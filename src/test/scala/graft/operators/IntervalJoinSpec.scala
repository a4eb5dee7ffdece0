package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Plan-shape + hand-fixture checks for the interval join (the
  * reference's load-bearing computation, `scripts/05_lag_analysis.py:
  * 45-76`): the equi key must make Catalyst plan a shuffled
  * hash / sort-merge join — never a BroadcastNestedLoopJoin, which
  * would be O(|spine|·|events|) at scale.
  */
class IntervalJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** events fixture: ts written as TimestampType, matching the
    * harness parquet timestamp[us] convention Tables.events reads. */
  private def events(rows: (Long, String, Long, Double)*): String = {
    val d = SparkTestSession.fixtureDir("ij-fix")
    import spark.implicits._
    rows.toSeq.zipWithIndex
      .map { case ((uid, tsStr, eid, v), _) =>
        (eid, java.sql.Timestamp.valueOf(tsStr), uid, "click", v, "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("never a nested-loop join; joins on the equi key") {
    for (q <- Seq("j1_interval_lookback", "j1_interval_sym",
        "j13_overlap_join")) {
      val p = graft.PlanShape.of(
        IntervalJoins.queries(q)(spark, SparkTestSession.Sf0001))
      assert(p.joins("BNLJ").isEmpty, s"$q planned a nested loop: $p")
      assert(p.joins.exists(j => Set("SMJ", "SHJ", "BHJ")(j.strategy) &&
        j.leftKeys.nonEmpty), s"$q missing a keyed join: $p")
    }
  }

  test("j13 bucket rewrite equals the naive overlap sweep") {
    val sf = SparkTestSession.Sf0001
    val got = IntervalJoins.queries("j13_overlap_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.get(2).toString, r.getLong(3), r.getLong(4))).toSet
    assert(got.nonEmpty)
    // rebuild both interval sets sequentially from raw events and
    // sweep every (session, incident) pair with the plain predicate
    val evs = graft.Tables.events(spark, sf)
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2), r.getString(3)))
    def sessions[K](rows: Seq[(K, Long, Long)], gapUs: Long) =
      rows.groupBy(_._1).toSeq.flatMap { case (k, es) =>
        val ord = es.sortBy(e => (e._3, e._2)).map(_._3)
        val flags = ord.zipWithIndex.map { case (u, i) =>
          if (i == 0 || u - ord(i - 1) > gapUs) 1L else 0L }
        val ids = flags.scanLeft(0L)(_ + _).drop(1)
        ord.zip(ids).groupBy(_._2).map { case (id, xs) =>
          (k, id, xs.map(_._1).min, xs.map(_._1).max) }
      }
    val us = (t: java.sql.Timestamp) => t.getTime * 1000 +
      (t.getNanos / 1000) % 1000
    val sess = sessions(evs.map(e => (e._1, e._2, us(e._3))).toSeq, 1800000000L)
    val day = (t: java.sql.Timestamp) => {
      val c = t.toLocalDateTime.toLocalDate.atStartOfDay()
      java.sql.Timestamp.valueOf(c)
    }
    val inc = sessions(evs.filter(_._4 == "error")
      .map(e => (day(e._3), e._2, us(e._3))).toSeq, 600000000L)
    val expect = (for {
      (u, sid, ss, se) <- sess
      (dy, iid, is, ie) <- inc
      if ss <= ie && is <= se
    } yield (u, sid, dy.toString, iid,
      math.min(se, ie) - math.max(ss, is))).toSet
    assert(got == expect, s"got ${got.size} vs expect ${expect.size}")
  }

  test("half-open window semantics on a hand fixture") {
    // key 1: event at day0 10:00 (v=10) and day1 09:00 (v=20).
    // 48h lookback [day−48h, day):
    //   day0 → {} (10:00 event is ≥ day0, excluded by the open end)
    //   day1 → {day0 10:00} → avg 10, n 1
    val d = events(
      (1L, "2024-03-01 10:00:00", 1L, 10.0),
      (1L, "2024-03-02 09:00:00", 2L, 20.0))
    val rows = IntervalJoins.queries("j1_interval_lookback")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getDouble(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1L, "2024-03-02 00:00:00.0", 10.0, 1L)))
  }

  test("symmetric window includes same-day and next-24h events") {
    // [day−24h, day+1d): day0's window sees both events (the day-1
    // 09:00 one falls outside +1d? No: day0+1d = day1 00:00, so the
    // 09:00 next-day event is excluded; same-day 10:00 included).
    val d = events(
      (1L, "2024-03-01 10:00:00", 1L, 10.0),
      (1L, "2024-03-02 09:00:00", 2L, 20.0))
    val rows = IntervalJoins.queries("j1_interval_sym")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getDouble(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, "2024-03-01 00:00:00.0", 10.0, 1L),     // own-day event only
      (1L, "2024-03-02 00:00:00.0", 15.0, 2L)))    // 24h back reaches both
  }

  test("j12 nearest as-of: direction, tie-to-backward, and no-purchase NULLs") {
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("j12-fix")
    // user 1: purchases day 1 (two ticks — last wins: 11.0) and day 9;
    // clicks create spine days 2 (back d1), 5 (tie 4/4 → backward),
    // 7 (forward d2), 12 (backward past the last purchase).
    // user 2: clicks only → all NULL.
    Seq(
      (1L, "2024-03-01 08:00:00", 1L, "purchase", 10.0),
      (2L, "2024-03-01 09:00:00", 1L, "purchase", 11.0),
      (3L, "2024-03-09 10:00:00", 1L, "purchase", 42.0),
      (4L, "2024-03-02 10:00:00", 1L, "click", 0.0),
      (5L, "2024-03-05 10:00:00", 1L, "click", 0.0),
      (6L, "2024-03-07 10:00:00", 1L, "click", 0.0),
      (7L, "2024-03-12 10:00:00", 1L, "click", 0.0),
      (8L, "2024-03-03 10:00:00", 2L, "click", 0.0))
      .map { case (eid, ts, uid, t, v) =>
        (eid, java.sql.Timestamp.valueOf(ts), uid, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val rows = graft.operators.Windows.queries("j12_asof_nearest")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.get(1).toString.take(10)) ->
        ((if (r.isNullAt(2)) None else Some(r.getDouble(2))),
         (if (r.isNullAt(3)) None else Some(r.getLong(3))),
         Option(r.getString(4)))).toMap
    assert(rows((1L, "2024-03-01")) ==
      ((Some(11.0), Some(0L), Some("backward")))) // same day, last tick
    assert(rows((1L, "2024-03-02")) ==
      ((Some(11.0), Some(1L), Some("backward"))))
    assert(rows((1L, "2024-03-05")) ==
      ((Some(11.0), Some(4L), Some("backward")))) // 4 back vs 4 fwd: tie
    assert(rows((1L, "2024-03-07")) ==
      ((Some(42.0), Some(2L), Some("forward"))))
    assert(rows((1L, "2024-03-12")) ==
      ((Some(42.0), Some(3L), Some("backward"))))
    assert(rows((2L, "2024-03-03")) == ((None, None, None)))
  }
}
