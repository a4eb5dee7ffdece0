package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Interval (time-range) joins and event-time windowed aggregation.
  *
  * J1 is the load-bearing computation of the reference: for each
  * (key, trading day), aggregate all news with
  * `published_utc ∈ [day − lookback_h, day)` — implemented there as an
  * O(configs × days × |news|) Python rescan
  * (`scripts/05_lag_analysis.py:45-76,122-124`), and as the
  * `[day−24h, day+1d)` variant in
  * `scripts/04_correlation_analysis.py:46-62`.
  *
  * Here each variant is ONE join: equi-key on the entity id with the
  * time range as a residual predicate, then a hash aggregation. The
  * equi key makes Catalyst plan a shuffled hash / sort-merge join —
  * never a BroadcastNestedLoopJoin (asserted in IntervalJoinSpec) —
  * so at 100 TB it shuffles both sides by key once and streams.
  * Window width bounds the per-row match count, so the join output is
  * O(|events| × days_in_window) — linear in the fact table.
  */
object IntervalJoins {

  /** Distinct (user_id, day) spine — the trading-day calendar per key. */
  private def spine(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J1: lookback window [day - 48h, day) per (user, day).
    "j1_interval_lookback" -> ((s, d) => {
      val sp = spine(s, d).alias("sp")
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("value")).alias("ev")
      sp.join(ev,
          col("sp.user_id") === col("ev.user_id") &&
          col("ev.ts") >= col("sp.day") - expr("INTERVAL 48 HOURS") &&
          col("ev.ts") <  col("sp.day"))
        .groupBy(col("sp.user_id").as("user_id"), col("sp.day").as("day"))
        .agg(r6(avg(col("ev.value"))).as("avg_value"),
             count(lit(1)).as("n"))
        .orderBy("user_id", "day")
    }),

    // J1 variant: symmetric window [day - 24h, day + 1d) — the
    // 04_correlation_analysis.py:48-55 window. Distinct operator per
    // SURVEY §7.3 (don't unify half-open variants).
    "j1_interval_sym" -> ((s, d) => {
      val sp = spine(s, d).alias("sp")
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("value")).alias("ev")
      sp.join(ev,
          col("sp.user_id") === col("ev.user_id") &&
          col("ev.ts") >= col("sp.day") - expr("INTERVAL 24 HOURS") &&
          col("ev.ts") <  col("sp.day") + expr("INTERVAL 1 DAYS"))
        .groupBy(col("sp.user_id").as("user_id"), col("sp.day").as("day"))
        .agg(r6(avg(col("ev.value"))).as("avg_value"),
             count(lit(1)).as("n"))
        .orderBy("user_id", "day")
    }),

    // T5: tumbling event-time window aggregation (streaming-shaped; the
    // same groupBy(window(...)) runs unchanged on readStream).
    "t5_tumbling_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("avg_value"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n"), col("avg_value"))
        .orderBy("win_start", "event_type")),

    // T5 session: gap-based sessionization with the NATIVE
    // session_window (merges while the gap to the previous event is
    // < 2h; runs unchanged on readStream with state-store merging).
    // Oracle reproduces the merge with lag/cumsum island detection.
    // avg through DECIMAL — session groups are small, so summation
    // order would otherwise flip ×1e6 half-boundary roundings.
    "t5_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "2 hours").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n"),
          r6(pinnedMean(col("value"))).as("avg_value"))
        .select(col("user_id"), col("w.start").as("sess_start"),
          col("w.end").as("sess_end"), col("n"), col("avg_value"))
        .orderBy("user_id", "sess_start")),

    // J13: interval OVERLAP join — the last join shape the family was
    // missing (J1 looks back from a point, J4/J8/J12 match a point to
    // a row, J9 bands values, J11 bins space; this pairs INTERVAL with
    // INTERVAL): which user sessions overlapped an error incident?
    // Left = W13's 30-min-gap user sessions; right = day-scoped
    // 10-min-gap incident windows over the error stream (day-bounded
    // so the gaps-and-islands window shards by date instead of one
    // global reducer). The scale move is the bucket rewrite: a raw
    // overlap predicate is a range cross join (O(|L|·|R|) compares),
    // so both sides explode into the HOUR buckets they cover, the
    // join runs as an equi join on the bucket — candidates only where
    // intervals share an hour — the exact predicate filters, and
    // distinct() collapses multi-hour double-matches. The ORACLE runs
    // the naive inequality join; the hash match is the proof the
    // rewrite is lossless. All integer µs arithmetic end to end.
    "j13_overlap_join" -> ((s, d) => {
      val HourUs = 3600L * 1000000L
      val wU = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val usC = unix_micros(col("ts"))
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("new_s", when(lag(usC, 1).over(wU).isNull ||
          usC - lag(usC, 1).over(wU) > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_s"))
          .over(wU.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(min(usC).as("s_start"), max(usC).as("s_end"))
      val wD = Window.partitionBy("inc_day").orderBy(col("ts"), col("event_id"))
      val inc = Tables.events(s, d)
        .filter(col("event_type") === "error")
        .withColumn("inc_day", date_trunc("day", col("ts")))
        .select(col("inc_day"), col("event_id"), col("ts"))
        .withColumn("new_i", when(lag(usC, 1).over(wD).isNull ||
          usC - lag(usC, 1).over(wD) > 600L * 1000000L, 1L).otherwise(0L))
        .withColumn("inc_id", sum(col("new_i"))
          .over(wD.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("inc_day", "inc_id")
        .agg(min(usC).as("i_start"), max(usC).as("i_end"))
      val sessH = sess.withColumn("hr",
        explode(expr(s"sequence(s_start div $HourUs, s_end div $HourUs)")))
      val incH = inc.withColumn("hr",
        explode(expr(s"sequence(i_start div $HourUs, i_end div $HourUs)")))
      sessH.join(broadcast(incH), Seq("hr"))
        .filter(col("s_start") <= col("i_end") &&
                col("i_start") <= col("s_end"))
        .select(col("user_id"), col("sess_id"), col("inc_day"),
          col("inc_id"),
          (least(col("s_end"), col("i_end")) -
            greatest(col("s_start"), col("i_start"))).as("overlap_us"))
        .distinct()
        .orderBy("user_id", "sess_id", "inc_day", "inc_id")
    }),

    // T5 sliding: 48h window sliding every 24h — each event lands in 2
    // windows (Spark expands; oracle replicates via an offsets join).
    "t5_sliding_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "48 hours", "24 hours").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("avg_value"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n"), col("avg_value"))
        .orderBy("win_start", "event_type"))
  )

  val oracles: Map[String, String] = Map(
    // the NAIVE inequality join — no hour buckets — so the hash match
    // proves the Spark-side bucket rewrite drops and invents nothing
    "j13_overlap_join" ->
      """WITH b AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS us, event_type
           FROM events),
         s1 AS (
           SELECT user_id, event_id, ts, us,
                  CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS ns
           FROM b
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s2 AS (
           SELECT user_id, us,
                  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sess_id
           FROM s1),
         sess AS (
           SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
                  min(us) AS s_start, max(us) AS s_end
           FROM s2 GROUP BY 1, 2),
         e1 AS (
           SELECT date_trunc('day', ts) AS inc_day, event_id, ts, us,
                  CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > 600000000
                       THEN 1 ELSE 0 END AS ni
           FROM b WHERE event_type = 'error'
           WINDOW w AS (PARTITION BY date_trunc('day', ts)
                        ORDER BY ts, event_id)),
         e2 AS (
           SELECT inc_day, us,
                  sum(ni) OVER (PARTITION BY inc_day ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS inc_id
           FROM e1),
         inc AS (
           SELECT inc_day, CAST(inc_id AS BIGINT) AS inc_id,
                  min(us) AS i_start, max(us) AS i_end
           FROM e2 GROUP BY 1, 2)
         SELECT s.user_id, s.sess_id, i.inc_day, i.inc_id,
                least(s.s_end, i.i_end) - greatest(s.s_start, i.i_start)
                  AS overlap_us
         FROM sess s JOIN inc i
           ON s.s_start <= i.i_end AND i.i_start <= s.s_end
         ORDER BY s.user_id, s.sess_id, i.inc_day, i.inc_id""",
    "j1_interval_lookback" ->
      """WITH spine AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
         SELECT s.user_id, s.day,
                round(avg(e.value), 6) AS avg_value, count(*) AS n
         FROM spine s JOIN events e
           ON s.user_id = e.user_id
          AND e.ts >= s.day - INTERVAL 48 HOUR
          AND e.ts <  s.day
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "j1_interval_sym" ->
      """WITH spine AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
         SELECT s.user_id, s.day,
                round(avg(e.value), 6) AS avg_value, count(*) AS n
         FROM spine s JOIN events e
           ON s.user_id = e.user_id
          AND e.ts >= s.day - INTERVAL 24 HOUR
          AND e.ts <  s.day + INTERVAL 1 DAY
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "t5_tumbling_window" ->
      """SELECT date_trunc('day', ts) AS win_start, event_type,
                count(*) AS n, round(avg(value), 6) AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "t5_session_window" ->
      """WITH o AS (
           SELECT user_id, ts, event_id, value,
                  CASE WHEN ts - lag(ts) OVER w < INTERVAL 2 HOUR
                       THEN 0 ELSE 1 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(new_sess) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
           FROM o)
         SELECT user_id, min(ts) AS sess_start,
                max(ts) + INTERVAL 2 HOUR AS sess_end,
                count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, sess_start""",
    "t5_sliding_window" ->
      """SELECT date_trunc('day', ts) - o * INTERVAL 1 DAY AS win_start,
                event_type, count(*) AS n, round(avg(value), 6) AS avg_value
         FROM events CROSS JOIN (VALUES (0), (1)) AS offs(o)
         GROUP BY 1, 2 ORDER BY win_start, event_type"""
  )
}
