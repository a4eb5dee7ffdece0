package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.StudentT

/** The crossed lag grid — the reference's core analysis
  * (`scripts/05_lag_analysis.py:20-21,122-124,177-198`): for every
  * (key, lookback_hours ∈ {12,24,48,72,168}, lead_days ∈ {1,2,3,5})
  * config, correlate the lookback-window average signal with the
  * lead_days-ahead forward return, then keep the best config per key
  * by |corr| with its p-value.
  *
  * The reference runs this as an O(configs × days × |news|) Python
  * rescan (one full filter pass per config per day). Here the whole
  * grid is ONE plan (SURVEY §4 calls this the single biggest perf win
  * of the port):
  *
  *  - events are scanned once into hourly (key, hour) sums, shuffled
  *    by key once; that one exchange feeds both the daily spine and
  *    the interval join (a reused exchange), so the lead window, the
  *    join and the grid aggregate all ride one partitioning;
  *  - the 5 lookbacks enter as a broadcast dimension crossed onto the
  *    (key, day) spine BEFORE the interval join, so the join runs once
  *    with an equi key on user_id and a per-row range residual — a
  *    shuffled hash join whose output is ≤5× the single-lookback one,
  *    never a re-scan;
  *  - the 4 leads come from ONE following-rows window frame over the
  *    daily aggregate that IS the spine; they ride through the join and
  *    enter as a `stack` unpivot after the (key, day, lookback)
  *    aggregate (O(days×keys×5) rows), so the fact table is never
  *    widened and the daily aggregate is built once;
  *  - corr/count are map-side-combinable hash aggregates over the
  *    (key, lookback, lead) grid — 20 cells per key.
  *
  * At 100 TB: events are scanned once and shuffled twice, first by
  * (user_id, hour) for the hourly sums, then those sums by user_id; the
  * hourly side meets the spine in a shuffled hash join on that second
  * partitioning rather than a broadcast, and the grid agg runs on
  * O(days × keys × 20) rows. Nothing rescans.
  */
object LagGrid {

  private val Lookbacks = Seq(12, 24, 48, 72, 168)
  private val Leads = Seq(1, 2, 3, 5)

  /** (key, hour, sv, cv): the value sum and non-null count per
    * (key, hour), repartitioned by key. Both `gridPlan` branches read
    * this one exchange. Every lookback window is HOUR-ALIGNED
    * ([day − lb h, day) with day date-truncated and lb integral hours),
    * so an event lands in a window iff its hour bucket does, and a day
    * is a union of its hours: Σ sv / Σ cv over the buckets is the same
    * mean as avg(value) over raw rows (float summation order differs,
    * which the grid's r6/rounded-argmax discipline already absorbs
    * between engines). A NULL-ts event is dropped here: it lies in no
    * window, and its NULL day sorts first, so no other day leads to it. */
  private[operators] def hourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("ts"))
      .agg(sum(col("value")).as("sv"), count(col("value")).as("cv"))
      // the join infers this filter on its hourly side; stated here, it
      // is on both branches, which then plan one (reused) exchange
      .filter(col("ts").isNotNull)
      .repartition(col("user_id"))

  /** (key, day, close, l1, l2, l3, l5) from the [[hourly]] sums `hv`:
    * the daily close per key (avg event value — the price-series proxy)
    * and its lead_days-ahead closes. One row per (key, day): the spine
    * of the interval join, and the forward-return side it carries
    * through that join. The
    * leads read one frame of the next `Leads.max` rows; the close is
    * wrapped in a struct so a NULL close keeps its position in the
    * frame (`collect_list` skips NULL elements, not NULL fields), and a
    * key's last days read NULL past the end of the list. */
  private[operators] def dailyLeads(hv: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    hv
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      // NULL when the day has no non-null value (what avg(value) gives)
      .agg((sum(col("sv")) / nullif(sum(col("cv")), lit(0L))).as("close"))
      .withColumn("nx", collect_list(struct(col("close")))
        .over(w.rowsBetween(1, Leads.max)))
      .select(Seq(col("user_id"), col("day"), col("close")) ++
        Leads.map(k =>
          get(col("nx"), lit(k - 1)).getField("close").as(s"l$k")): _*)
  }

  /** The full 20-cell grid: corr + n per (key, lookback, lead) — the
    * raw plan (PlanShapeSpec asserts join shapes on this form). ONE
    * interval join over the crossed lookback dimension: win_start is
    * per (day, lb) row, so the range residual varies by row while the
    * equi key on user_id keeps the join keyed. Both sides are the
    * hourly sums: the spine is their daily aggregate with its leads,
    * carried to the (key, day, lb) senti rows and unpivoted there, so
    * events are scanned once and no second join meets the forward
    * returns. */
  def gridPlan(s: SparkSession, d: String): DataFrame = {
    // Hourly pre-aggregation before the interval join (round 15,
    // guide §2.3 — shuffle/join fewer rows): the join's big side
    // shrinks from |events| to |user-hours|.
    val hv = hourly(s, d)
    val lbs = s.createDataFrame(Lookbacks.map(Tuple1(_))).toDF("lookback_h")
    val spine = dailyLeads(hv)
      .crossJoin(broadcast(lbs))
      .withColumn("win_start",
        col("day") - expr("make_dt_interval(0, lookback_h, 0, 0)"))
      .alias("sp")
    // close and the leads are functions of (user_id, day): grouping by
    // them as well only carries them past the aggregate
    val keys = Seq("user_id", "day", "lookback_h", "close") ++
      Leads.map(k => s"l$k")
    val stackExpr = Leads.map(k => s"$k, l$k").mkString(", ")
    // a shuffled hash join on the user_id partitioning both sides
    // already have, not a broadcast that re-reads the reused exchange
    spine.join(hv.alias("ev").hint("shuffle_hash"),
        col("sp.user_id") === col("ev.user_id") &&
        col("ev.ts") >= col("sp.win_start") &&
        col("ev.ts") <  col("sp.day"))
      .groupBy(keys.map(k => col(s"sp.$k").as(k)): _*)
      // avg over the bucket rollup: NULL when no non-null value exists
      // in the window (what avg(value) returned), never a 0/0 throw
      .agg((sum(col("ev.sv")) / nullif(sum(col("ev.cv")), lit(0L)))
        .as("senti"))
      // the leads unpivot after both aggregates, so the ×4 blow-up
      // applies to O(days × keys × lookbacks) rows only
      .select(col("user_id"), col("lookback_h"), col("senti"), col("close"),
        expr(s"stack(${Leads.size}, $stackExpr) as (lead_days, fwd_close)"))
      .filter(col("fwd_close").isNotNull)
      // NULL-on-zero close (a day whose avg value is exactly 0): corr
      // skips NULL pairs on both engines; ANSI x/0 would throw instead.
      .withColumn("fwd_ret",
        col("fwd_close") / nullif(col("close"), lit(0.0)) - 1)
      .groupBy(col("user_id"), col("lookback_h"), col("lead_days"))
      // Stats.corrSafe, not the corr builtin: NULL (like DuckDB corr)
      // instead of an ANSI divide-by-zero throw on a zero-variance
      // cell — see the corrSafe Scaladoc (round-13 ratchet burndown)
      .agg(Stats.corrSafe(col("senti"), col("fwd_ret")).as("c"),
           count(lit(1)).as("n"),
           // the artifact's per-cell means (scripts/05_lag_analysis.py
           // :154-158) — same hash agg, zero extra passes
           avg(col("fwd_ret")).as("mr"),
           avg(col("senti")).as("ms"))
  }

  /** Memoized, materialized grid. All three lag_grid queries consume
    * the SAME O(keys × 20)-row table; without sharing, each rebuilt
    * the full interval-join pipeline (3× the round-5 bench cost).
    * Lifecycle (validity while the dir is immutable, explicit
    * invalidation, executor-loss recompute) is
    * [[graft.MaterializedTable]]'s contract; Bench times the build as
    * its own `grid_build` entry. */
  val grid = graft.MaterializedTable("grid_build")(gridPlan)

  /** Per-cell dump with ENGINE-computed p-values — the
    * materialized-intermediate oracle pattern (round 12): the
    * PearsonPValue kernel has no DuckDB twin (anchored by
    * StudentTSpec goldens), but once p is data, the argmax ranking
    * and the byte-exact JSON composition are replayable in SQL, so
    * lag_grid_best_config and lag_grid_artifact flip to full hash
    * checks. Doubles are normalized with +0.0 (Java format_string
    * renders -0.0 as "-0.000000", DuckDB printf as "0.000000"). */
  private[operators] def CellDump(d: String) = Dumps.path("laggrid_cells", d)

  private def cellsWithP(s: SparkSession, d: String): DataFrame = {
    // degenerate cells (n = 2 → |r| = 1, p undefined) must not
    // NULL-poison downstream rendering: undefined p renders as 1.0
    // ("no evidence"), the conservative reading of an unestimable
    // significance
    val pv = coalesce(nanvl(
      r6(graft.functions.PearsonPValue.pValue(col("c"), col("n"))),
      lit(1.0)), lit(1.0))
    Dumps.writeOnce(s, CellDump(d)) {
      grid(s, d).filter(col("c").isNotNull)
        .select(col("user_id"), col("lookback_h"), col("lead_days"),
          (r6(col("c")) + lit(0.0d)).as("r"),
          (pv + lit(0.0d)).as("p_value"), col("n"),
          (r6(col("mr")) + lit(0.0d)).as("mr"),
          (r6(col("ms")) + lit(0.0d)).as("ms"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The grid itself — SQL-expressible, fully oracle-checked.
    "lag_grid_corr" -> ((s, d) =>
      grid(s, d)
        .select(col("user_id"), col("lookback_h"), col("lead_days"),
          r6(col("c")).as("r"), col("n"))
        .orderBy("user_id", "lookback_h", "lead_days")),

    // Best config per key by |corr| — the SQL-expressible core of the
    // selection (fully oracle-checked); ties broken by (lookback, lead).
    "lag_grid_best" -> ((s, d) => {
      // argmax on the ROUNDED |corr| (both engines compute corr with
      // different summation order; ranking on the 1e-6 grid with a
      // (lookback, lead) tiebreak keeps the selection deterministic
      // across engines).
      val w = Window.partitionBy("user_id")
        .orderBy(abs(r6(col("c"))).desc, col("lookback_h"), col("lead_days"))
      grid(s, d)
        .filter(col("c").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("lookback_h"), col("lead_days"),
          r6(col("c")).as("r"), col("n"))
        .orderBy("user_id")
    }),

    // The reference's ARTIFACT form: one JSON document per key with
    // best_config + the full all_configs map, exactly the shape
    // `scripts/05_lag_analysis.py:220-229` serializes (best_config
    // fields :193-198, per-cell fields :154-158). The JSON is
    // composed with format_string / array_sort / array_join — not
    // to_json — so the byte layout is deterministic (fixed key order,
    // %.6f numerics, cells sorted by (lookback, lead)). Fully
    // hash-checked since round 12 via the CellDump pattern: p rides
    // the dump as data and the DuckDB twin replays the argmax and the
    // byte-exact composition (LagGridSpec's re-parse anchors stay).
    "lag_grid_artifact" -> ((s, d) => {
      val cells = cellsWithP(s, d)
      val cell = format_string(
        "\"%dh_%dd\":{\"correlation\":%.6f,\"p_value\":%.6f," +
          "\"observations\":%d,\"mean_return\":%.6f,\"mean_sentiment\":%.6f}",
        col("lookback_h"), col("lead_days"), col("r"), col("p_value"),
        col("n"), col("mr"), col("ms"))
      val best = format_string(
        "{\"lookback_hours\":%d,\"lead_days\":%d,\"correlation\":%.6f," +
          "\"p_value\":%.6f,\"observations\":%d}",
        col("lookback_h"), col("lead_days"), col("r"), col("p_value"),
        col("n"))
      val w = Window.partitionBy("user_id")
        .orderBy(abs(col("r")).desc, col("lookback_h"), col("lead_days"))
      cells
        .withColumn("cell", cell)
        .withColumn("best", best)
        .withColumn("rn", row_number().over(w))
        .groupBy("user_id")
        .agg(concat(
          lit("{\"best_config\":"),
          max(when(col("rn") === 1, col("best"))),
          lit(",\"all_configs\":{"),
          array_join(transform(
            array_sort(collect_list(
              struct(col("lookback_h"), col("lead_days"), col("cell")))),
            x => x.getField("cell")), ","),
          lit("}}")).as("artifact"))
        .orderBy("user_id")
    }),

    // Best config per key by |corr| + its p-value. Fully hash-checked
    // since round 12 (the CellDump pattern): ranking runs on the
    // DUMPED r6'd |r| — the same 1e-6-grid + (lookback, lead)
    // tiebreak discipline as lag_grid_best, so the selection is
    // deterministic across engines; the p-value math itself stays
    // golden-tested in StudentTSpec.
    "lag_grid_best_config" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(abs(col("r")).desc, col("lookback_h"), col("lead_days"))
      cellsWithP(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("lookback_h"), col("lead_days"),
          col("r"), col("p_value"), col("n"))
        .orderBy("user_id")
    })
  )

  /** The lag-grid oracles' shared CTEs `daily → leads → fwd → lb →
    * senti`: each (user, day)'s forward returns at the 4 leads and its
    * trailing mean sentiment at the 5 lookbacks. */
  private val gridCtes: String =
    """daily AS (
           SELECT user_id, date_trunc('day', ts) AS day, avg(value) AS close
           FROM events GROUP BY 1, 2),
         leads AS (
           SELECT user_id, day, close,
                  lead(close, 1) OVER w AS l1, lead(close, 2) OVER w AS l2,
                  lead(close, 3) OVER w AS l3, lead(close, 5) OVER w AS l5
           FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
         fwd AS (
           SELECT user_id, day, lead_days,
                  fwd_close / nullif(close, 0) - 1 AS fwd_ret
           FROM (
             SELECT user_id, day, close, 1 AS lead_days, l1 AS fwd_close FROM leads
             UNION ALL SELECT user_id, day, close, 2, l2 FROM leads
             UNION ALL SELECT user_id, day, close, 3, l3 FROM leads
             UNION ALL SELECT user_id, day, close, 5, l5 FROM leads)
           WHERE fwd_close IS NOT NULL),
         lb(lookback_h) AS (VALUES (12), (24), (48), (72), (168)),
         senti AS (
           SELECT s.user_id, s.day, l.lookback_h, avg(e.value) AS senti
           FROM (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
                 FROM events) s
           CROSS JOIN lb l
           JOIN events e ON s.user_id = e.user_id
             AND e.ts >= s.day - to_hours(CAST(l.lookback_h AS BIGINT))
             AND e.ts <  s.day
           GROUP BY 1, 2, 3)"""

  val oracles: Map[String, String] = Map(
    "lag_grid_corr" ->
      s"""WITH $gridCtes
         SELECT f.user_id, s.lookback_h, f.lead_days,
                round(corr(s.senti, f.fwd_ret), 6) AS r, count(*) AS n
         FROM senti s
         JOIN fwd f ON s.user_id = f.user_id AND s.day = f.day
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""",
    "lag_grid_best" ->
      s"""WITH $gridCtes,
         cells AS (
           SELECT f.user_id, s.lookback_h, f.lead_days,
                  corr(s.senti, f.fwd_ret) AS c, count(*) AS n
           FROM senti s
           JOIN fwd f ON s.user_id = f.user_id AND s.day = f.day
           GROUP BY 1, 2, 3)
         SELECT user_id, lookback_h, lead_days, round(c, 6) AS r, n FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id
                     ORDER BY abs(round(c, 6)) DESC, lookback_h, lead_days) AS rn
           FROM cells WHERE c IS NOT NULL)
         WHERE rn = 1 ORDER BY user_id""",
    // the dumped cells (p is engine data, anchored by StudentTSpec);
    // the oracle replays the r6-grid argmax
    "lag_grid_best_config" ->
      s"""WITH cells AS (SELECT * FROM '${Dumps.oraclePath("laggrid_cells")}/*.parquet')
         SELECT user_id, lookback_h, lead_days, r, p_value, n FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id
                     ORDER BY abs(r) DESC, lookback_h, lead_days) AS rn
           FROM cells)
         WHERE rn = 1 ORDER BY user_id""",
    // same dump; the oracle replays the argmax AND the byte-exact
    // JSON composition (printf mirrors format_string on the r6'd,
    // -0.0-normalized doubles; string_agg mirrors the
    // (lookback, lead) cell sort)
    "lag_grid_artifact" ->
      s"""WITH cells AS (SELECT * FROM '${Dumps.oraclePath("laggrid_cells")}/*.parquet'),
         cs AS (
           SELECT user_id, lookback_h, lead_days,
                  printf('"%dh_%dd":{"correlation":%.6f,"p_value":%.6f,"observations":%d,"mean_return":%.6f,"mean_sentiment":%.6f}',
                         lookback_h, lead_days, r, p_value, n, mr, ms)
                    AS cell,
                  printf('{"lookback_hours":%d,"lead_days":%d,"correlation":%.6f,"p_value":%.6f,"observations":%d}',
                         lookback_h, lead_days, r, p_value, n) AS best,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY abs(r) DESC, lookback_h, lead_days) AS rn
           FROM cells)
         SELECT user_id,
                '{"best_config":' || max(CASE WHEN rn = 1 THEN best END) ||
                ',"all_configs":{' ||
                string_agg(cell, ',' ORDER BY lookback_h, lead_days) ||
                '}}' AS artifact
         FROM cs GROUP BY user_id ORDER BY user_id"""
  )
}
