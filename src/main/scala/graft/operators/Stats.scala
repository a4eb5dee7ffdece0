package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.StudentT

/** Statistics: Pearson correlation (A2), its p-value (A3, custom UDF),
  * argmax-by-|corr| best-config selection (A4), the trade / risk metric
  * blocks (A8/A10), monthly compounded returns + annual rollup
  * (A11/A12), histogram binning (A13) and heatmap argmax cells (A14).
  *
  * Reference: the lag grid + pearsonr of `scripts/05_lag_analysis.py:
  * 141-198`, metric blocks `scripts/07_backtest.py:284-365`, heatmap
  * rollups `scripts/11_visualize_heatmap.py:19-74`, histograms
  * `scripts/10_visualize_trades.py:39-51`.
  *
  * Scale notes: every aggregate here is a map-side-combinable hash agg
  * (corr/avg/stddev merge partial moments); the per-day series the
  * risk metrics run on is already reduced to O(days) rows before any
  * single-partition window touches it.
  */
object Stats {

  /** Range buckets of the A33/A35 two-level rank decomposition:
    * values hash into this many equal-width ranges of [lo, hi], the
    * within-bucket cumulatives run partitioned by bucket, and only the
    * ≤B-row bucket-offset frame touches a single-partition window. */
  private val RankBuckets = 1024

  /** The range bucket of `value` in [lo, hi]. hi = lo (every value
    * identical) would make the bin division 0/0 → NaN and poison the
    * downstream int cast under ANSI; one bucket is also the RIGHT
    * decomposition for a single distinct value (degenerate-fixture
    * spec: StatsDegenerateSpec). */
  private def rankBucket: Column =
    when(col("hi") > col("lo"),
      least(floor((col("value") - col("lo")) /
        (col("hi") - col("lo")) * RankBuckets), lit(RankBuckets - 1)))
      .otherwise(lit(0L)).cast("int")

  /** The click (g1) and purchase values with their range bucket, and
    * the bounds frame (lo, hi and the group sizes n1, n2) — the input
    * of every two-sample rank test here. */
  private def twoSample(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("value"), (col("event_type") === "click").as("g1"))
    val bounds = ev.agg(min(col("value")).as("lo"),
      max(col("value")).as("hi"),
      sum(when(col("g1"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("g1"), 1L).otherwise(0L)).as("n2"))
    (ev.crossJoin(broadcast(bounds)).withColumn("bucket", rankBucket),
      bounds)
  }

  /** Oracle twin of [[twoSample]]: CTEs `s` (value, g1) and `n` (the
    * group sizes n1, n2). */
  private val TwoSampleCtes =
    """s AS (
           SELECT value, event_type = 'click' AS g1
           FROM events WHERE event_type IN ('click', 'purchase')),
         n AS (
           SELECT CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n2
           FROM s)"""

  /** Oracle twin of [[midrankSpine]] (one global window): `TwoSampleCtes`
    * plus `perv` (value, k1, k) and `r` (k1, k and the pooled count
    * strictly below the value, cbef). */
  private val MidrankCtes =
    s"""$TwoSampleCtes,
         perv AS (
           SELECT value,
                  CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
                  CAST(count(*) AS BIGINT) AS k
           FROM s GROUP BY value),
         r AS (
           SELECT k1, k,
                  coalesce(sum(k) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cbef
           FROM perv)"""

  /** Oracle twin of [[cvmSpine]] (one global window): `TwoSampleCtes`
    * plus `perv` (value, k1, k2) and `r` (k1, k2 and the inclusive
    * cumulatives c1, c2). */
  private val CdfCtes =
    s"""$TwoSampleCtes,
         perv AS (
           SELECT value,
                  CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
                  CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS k2
           FROM s GROUP BY value),
         r AS (
           SELECT k1, k2,
                  sum(k1) OVER w AS c1, sum(k2) OVER w AS c2
           FROM perv
           WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING))"""

  /** Shared A33/A112/A113 spine: per distinct click/purchase value, the
    * group tallies (k1, k2), the INCLUSIVE combined cumulatives
    * (c1, c2) via the bucketed two-level decomposition (no global
    * sort), the group sizes, and the scaled ECDF gap
    * dd = n2·c1 − n1·c2 (exact BIGINT: F−G at that value times
    * n1·n2). Everything downstream of this frame is integer
    * arithmetic plus one final division. Returns (spine, bounds). */
  private def cvmSpine(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (rows, bounds) = twoSample(s, d)
    val perv = rows.groupBy(col("bucket"), col("value"))
      .agg(sum(when(col("g1"), 1L).otherwise(0L)).as("k1"),
        sum(when(!col("g1"), 1L).otherwise(0L)).as("k2"))
    val wIn = Window.partitionBy("bucket").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = perv.groupBy("bucket")
      .agg(sum(col("k1")).as("b1"), sum(col("k2")).as("b2"))
      .withColumn("off1", coalesce(sum(col("b1")).over(wB), lit(0L)))
      .withColumn("off2", coalesce(sum(col("b2")).over(wB), lit(0L)))
      .select(col("bucket"), col("off1"), col("off2"))
    (perv
      .withColumn("c1in", sum(col("k1")).over(wIn))
      .withColumn("c2in", sum(col("k2")).over(wIn))
      .join(offs, Seq("bucket"))
      .crossJoin(broadcast(bounds.select(col("n1"), col("n2"))))
      .withColumn("c1", col("off1") + col("c1in"))
      .withColumn("c2", col("off2") + col("c2in"))
      .withColumn("dd", col("n2") * col("c1") - col("n1") * col("c2")),
      bounds)
  }

  /** Shared A35/A97/A111 spine: per distinct click/purchase value, the
    * click tally k1, the pooled tally k, and the pooled count strictly
    * below it as off (earlier buckets) + cin (earlier values in the
    * bucket), so its midrank is off + cin + (k+1)/2 — an exact
    * half-integer. Returns (spine, bounds). */
  private def midrankSpine(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (rows, bounds) = twoSample(s, d)
    val perv = rows.groupBy(col("bucket"), col("value"))
      .agg(sum(when(col("g1"), 1L).otherwise(0L)).as("k1"),
        count(lit(1)).as("k"))
    val wIn = Window.partitionBy("bucket").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = perv.groupBy("bucket").agg(sum(col("k")).as("bk"))
      .withColumn("off", coalesce(sum(col("bk")).over(wB), lit(0L)))
      .select(col("bucket"), col("off"))
    (perv
      .withColumn("cin", coalesce(sum(col("k")).over(wIn), lit(0L)))
      .join(offs, Seq("bucket")), bounds)
  }

  /** The A81/A85/A86/A118 trend panel: the pinned daily mean y per
    * (event_type, day) and its integer day index x. */
  private def trendPanel(s: SparkSession, d: String): DataFrame =
    dailyMean(Tables.events(s, d), "y")
      .withColumn("x", datediff(col("day"), lit("2024-01-01"))
        .cast("long"))

  /** OLS co-moments of y on x over the trend panel: exact BIGINT x
    * sums, and y/xy sums pinned through DECIMAL and rendered once, so
    * every fit downstream is one fixed IEEE chain on identical
    * scalars. */
  private def trendSums: Seq[Column] = Seq(count(lit(1)).as("n"),
    sum(col("x")).as("sx"),
    sum(col("x") * col("x")).as("sxx"),
    sum(col("y").cast("decimal(24,10)")).cast("double").as("sy"),
    sum((col("x") * col("y")).cast("decimal(28,8)")).cast("double")
      .as("sxy"))

  /** The per-type OLS line of the trend panel: its co-moments plus
    * slope `beta` and intercept `alpha`. */
  private def trendFit(panel: DataFrame): DataFrame =
    panel.groupBy(col("event_type"))
      .agg(trendSums.head, trendSums.tail: _*)
      .withColumn("beta",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("alpha",
        (col("sy") - col("beta") * col("sx")) / col("n"))

  /** The pairwise-slope spine of A54/A55/A107: the pinned daily mean
    * y per (event_type, day) with its day index as a double x, and
    * every same-type pair of those days as (x1, y1, x2, y2); callers
    * pick the pair filter. Returns (panel, pairs). */
  private def slopePairs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val dly = dailyMean(Tables.events(s, d), "y")
      .withColumn("x",
        datediff(col("day"), lit("2024-01-01")).cast("double"))
      .select(col("event_type"), col("x"), col("y"))
    val a = dly.select(col("event_type"), col("x").as("x1"),
      col("y").as("y1"))
    val b = dly.select(col("event_type"), col("x").as("x2"),
      col("y").as("y2"))
    (dly, a.join(b, Seq("event_type")))
  }

  /** The A71/A115 two-period histogram: 10 fixed-width bins over the
    * exact global [min, max] (one bin when the range is flat), each
    * (event_type, bin)'s counts before (ca) and from (cb) 2024-01-16,
    * the period sizes na/nb and the Laplace-smoothed shares pa/pb.
    * One map-side-combinable pass over the corpus; everything after
    * runs on ≤ |types|·10 rows. */
  private def driftBins(s: SparkSession, d: String): DataFrame = {
    val (counts, spine, _) = periodBins(s, d, 10)
    val tot = counts.groupBy(col("event_type"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    spine
      .join(counts, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("ca", "cb"))
      .join(tot, Seq("event_type"))
      .withColumn("pa",
        (col("ca") + 1).cast("double") / (col("na") + 10))
      .withColumn("pb",
        (col("cb") + 1).cast("double") / (col("nb") + 10))
  }

  /** The A87/A108 blocked-rank frame: the pinned (day, type) mean y,
    * the type count k, and per COMPLETE day (all k types present) each
    * type's midrank r = rank + (ties−1)/2 among that day's means — an
    * exact half-integer, so every sum over it is exact. The cell keeps
    * its (day, type) key order, which sets the plan's exchange. */
  private def friedmanRanks(s: SparkSession, d: String): DataFrame = {
    val cell = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(pinnedMean(col("value")).as("y"))
    val k = cell.select(countDistinct(col("event_type")).as("k"))
    val wDay = Window.partitionBy("day")
    cell.crossJoin(broadcast(k))
      .withColumn("n_in_day", count(lit(1)).over(wDay))
      .filter(col("n_in_day") === col("k"))
      .withColumn("rnk", rank().over(wDay.orderBy("y")))
      .withColumn("ct", count(lit(1)).over(
        Window.partitionBy("day", "y")))
      .withColumn("r", col("rnk") +
        (col("ct") - 1).cast("double") / 2)
  }

  /** The A28/A65 one-pass conditional aggregate: count, mean and
    * sample variance of the click (`_a`) and purchase (`_b`) values. */
  private def clickPurchaseMoments(s: SparkSession, d: String): DataFrame = {
    val a = when(col("event_type") === "click", col("value"))
    val b = when(col("event_type") === "purchase", col("value"))
    Tables.events(s, d)
      .agg(count(a).as("n_a"), avg(a).as("mean_a"),
        var_samp(a).as("var_a"),
        count(b).as("n_b"), avg(b).as("mean_b"),
        var_samp(b).as("var_b"))
  }

  /** The A67/A120 shape frame: per type the count n (and as a double,
    * nd), the raw moments mu, r2..r4 from decimal-pinned sums, and the
    * sample skewness and kurtosis under the caller's names. */
  private def shapeMoments(s: SparkSession, d: String, skew: String,
                           kurt: String): DataFrame = {
    val x = col("value")
    val agg = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(x.cast("decimal(24,10)")).as("s1"),
        sum((x * x).cast("decimal(28,8)")).as("s2"),
        sum((x * x * x).cast("decimal(32,6)")).as("s3"),
        sum((x * x * x * x).cast("decimal(36,4)")).as("s4"))
      .select(col("event_type"), col("n"),
        col("n").cast("double").as("nd"),
        (col("s1").cast("double") / col("n")).as("mu"),
        (col("s2").cast("double") / col("n")).as("r2"),
        (col("s3").cast("double") / col("n")).as("r3"),
        (col("s4").cast("double") / col("n")).as("r4"))
    val m2 = col("r2") - col("mu") * col("mu")
    val m3 = col("r3") - lit(3.0d) * col("mu") * col("r2") +
      lit(2.0d) * col("mu") * col("mu") * col("mu")
    val m4 = col("r4") - lit(4.0d) * col("mu") * col("r3") +
      lit(6.0d) * col("mu") * col("mu") * col("r2") -
      lit(3.0d) * col("mu") * col("mu") * col("mu") * col("mu")
    agg
      // zero variance -> moments undefined -> NULL (ANSI /0 guard;
      // ratchet spec)
      .withColumn(skew, when(m2 > 0, m3 / pow(m2, 1.5d)))
      .withColumn(kurt, when(m2 > 0, m4 / (m2 * m2)))
  }

  /** `ev` with `bin`, its value's equal-width bin among `bins` over the
    * exact global [vmin, vmax], and that range frame. */
  private def valueBins(ev: DataFrame, bins: Int): (DataFrame, DataFrame) = {
    val rng = ev.agg(min(col("value")).as("vmin"),
      max(col("value")).as("vmax"))
    (ev.crossJoin(broadcast(rng))
      // vmax = vmin -> one bin (degenerate-range guard; spec:
      // StatsDegenerateSpec)
      .withColumn("bin",
        when(col("vmax") > col("vmin"),
          least(floor((col("value") - col("vmin")) /
            (col("vmax") - col("vmin")) * bins), lit(bins - 1L)))
          .otherwise(lit(0L))), rng)
  }

  /** The A79/drift period histogram over `bins` value bins: each
    * (event_type, bin)'s counts before (ca) and from (cb) 2024-01-16,
    * the full (event_type, bin) spine and the range frame. */
  private def periodBins(s: SparkSession, d: String, bins: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val (binned, rng) = valueBins(Tables.events(s, d)
      .select(col("event_type"), col("value"), col("ts")), bins)
    val counts = binned
      .withColumn("in_a",
        (col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
          .cast("long"))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(col("in_a")).as("ca"),
        sum(lit(1L) - col("in_a")).as("cb"))
    val spine = counts.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
    (counts, spine, rng)
  }

  /** The A92/A102/A119 panel: the daily candles of every day with a
    * previous day, flagged up-price x and up-volume y (0/1 longs). */
  private def upDown(s: SparkSession, d: String): DataFrame = {
    val wd = Window.partitionBy("event_type").orderBy("day")
    candles(s, d)
      .withColumn("pc", lag(col("close"), 1).over(wd))
      .withColumn("pv", lag(col("vol"), 1).over(wd))
      .filter(col("pc").isNotNull)
      .withColumn("x", (col("close") > col("pc")).cast("long"))
      .withColumn("y", (col("vol") > col("pv")).cast("long"))
  }

  /** The A94/A98 pair counts: over every two days of a type (an
    * equi-join on the type key), the pair count n0, the concordant and
    * discordant (close, vol) orderings and the close and volume ties. */
  private def dayPairCounts(s: SparkSession, d: String): DataFrame = {
    val c = candles(s, d)
    val a = c.select(col("event_type"), col("day").as("da"),
      col("close").as("xa"), col("vol").as("ya"))
    val b = c.select(col("event_type"), col("day").as("db"),
      col("close").as("xb"), col("vol").as("yb"))
    a.join(b, Seq("event_type")).filter(col("da") < col("db"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n0"),
        sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
                 (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
          .otherwise(0L)).as("conc"),
        sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
                 (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
          .otherwise(0L)).as("disc"),
        sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty"))
  }

  /** Daily avg value per event_type — the shared grid input. */
  private def daily(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(avg(col("value")).as("v"))

  /** Daily revenue returns from orders (the long multi-year series). */
  private def dailyReturns(s: SparkSession, d: String): DataFrame = {
    val day = Tables.orders(s, d)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("rev"))
    val w = Window.orderBy("day")
    day.withColumn("prev", lag(col("rev"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("day"), col("rev"), (col("rev") / col("prev") - 1).as("r"))
  }

  /** Pearson r via co-moments with DuckDB-corr NULL semantics: Spark's
    * `corr` builtin THROWS on zero variance under ANSI (the divide
    * lives inside the aggregate's evaluateExpression, unguardable from
    * outside — the StatsDegenerate ratchet's corr residue, burned down
    * in round 13). covar_pop / (σ·σ) through try_divide is the same
    * co-moment quantity — Spark computes covar_pop and stddev_pop from
    * the identical merge machinery corr uses, so natural-corpus values
    * agree to well under the r6 grid (re-verified hash-green at all
    * three SFs) — and a constant series yields NULL exactly like
    * DuckDB's corr. The when-gates replicate corr's pairwise deletion:
    * each stddev sees only rows where the OTHER column is non-null. */
  private[operators] def corrSafe(x: Column, y: Column): Column =
    try_divide(covar_pop(x, y),
      stddev_pop(when(y.isNotNull, x)) * stddev_pop(when(x.isNotNull, y)))

  /** Fold `body` over the `gs` array of per-group structs, summing
    * left to right in the array's (sorted) order: a fixed term order
    * over the k-row group frame, never the corpus, so the sum is the
    * same IEEE chain as the oracle's `list_sum(list(… ORDER BY …))`. */
  private def fold(body: Column => Column): Column =
    aggregate(col("gs"), lit(0.0d), (acc, x) => acc + body(x))

  /** The one-way ANOVA sums (A52, A74, A99): per event_type of `df`
    * the count and the decimal-pinned Σv, Σv² of `v`, then SSB/SSW
    * from those per-group terms folded in event_type order. Returns
    * k, n, ssb, ssw (and the intermediate folds). */
  private def oneWay(df: DataFrame, v: Column): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n_g"), dsum(v).as("s_g"),
        dsum(v * v).as("q_g"))
      .agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        array_sort(collect_list(struct(col("event_type"), col("n_g"),
          col("s_g"), col("q_g")))).as("gs"))
      .withColumn("sum_s", fold(_.getField("s_g")))
      .withColumn("sum_sq_over_n", fold(x =>
        x.getField("s_g") * x.getField("s_g") /
          x.getField("n_g").cast("double")))
      .withColumn("sum_q", fold(_.getField("q_g")))
      .withColumn("ssb", col("sum_sq_over_n") -
        col("sum_s") * col("sum_s") / col("n").cast("double"))
      .withColumn("ssw", col("sum_q") - col("sum_sq_over_n"))

  /** `oneWay`'s F ratio, r6'd. Zero within-group spread (every
    * observation identical) or one group leaves F undefined: NULL,
    * never an ANSI /0 (StatsDegenerateSpec). */
  private def fRatio: Column =
    when(col("ssw") > 0 && col("k") > 1,
      r6((col("ssb") / (col("k") - 1).cast("double")) /
         (col("ssw") / (col("n") - col("k")).cast("double"))))

  /** Autocorrelation grid: corr(v_t, v_{t+k}) per (event_type, k). */
  private def grid(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    daily(s, d)
      .withColumn("l1", lead(col("v"), 1).over(w))
      .withColumn("l2", lead(col("v"), 2).over(w))
      .withColumn("l3", lead(col("v"), 3).over(w))
      .select(col("event_type"), col("v"),
        expr("stack(3, 1, l1, 2, l2, 3, l3) as (k, fwd)"))
      .groupBy(col("event_type"), col("k"))
      .agg(corrSafe(col("v"), col("fwd")).as("c"), count(col("fwd")).as("n"))
  }

  /** A55's base result (event_type, n_days, s, z — one row per type),
    * materialized once per (session, dir): the day-pair sign join is
    * the most expensive stats plan in the suite (~3.7 s at sf0.1) and
    * BOTH a55_mann_kendall and its p-value twin consume it — without
    * sharing, the twin re-executed the full join (round-8 advisory).
    * Same [[graft.MaterializedTable]] lifecycle as the MinHash
    * signatures; Bench times the build as its own `a55_base_build`
    * entry. The materialized table is tiny (|event types| rows), so
    * the persist overhead is nil. */
  private[graft] val mkBase = graft.MaterializedTable(
      "a55_base_build")((s, d) => {
    val (dly, pairs) = slopePairs(s, d)
    val sSum = pairs
      .filter(col("x2") > col("x1"))
      .groupBy(col("event_type"))
      .agg(sum(signum(col("y2") - col("y1"))).cast("long").as("s"))
    val nD = dly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val ties = dly.groupBy(col("event_type"), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
        .as("tt"))
    nD.join(sSum, Seq("event_type")).join(ties, Seq("event_type"))
      .withColumn("var_s",
        (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tt"))
          .cast("double") / 18.0)
      .select(col("event_type"), col("n").as("n_days"), col("s"),
        round(when(col("s") > 0,
            (col("s") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s") < 0,
            (col("s") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0d)), 6).as("z"))
  })

  /** A73's two-level exact-midrank decomposition, shared with A89's
    * Dunn pairs: a 1000-bucket histogram of the DISTINCT-value frame
    * prefix-sums across buckets (one ≤1000-row window) and each value
    * ranks within its bucket — every corpus-wide quantity lives on
    * the domain-bounded distinct-value frame, never the fact table.
    * Ranks are carried DOUBLED (r2 = 2·below + cnt + 1) so midranks
    * stay exact integers. Returns (per-group (n_g, rs2), global t3
    * tie term Σ(t³−t)). */
  private def kwGroupRanks(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    // lazy on purpose: round 14 measured both an eager checkpoint of
    // vc/ranks/g/ties and an rng derived from vc as slower at sf0.1
    // (a73 0.54 → 1.4 s; a89_dunn_pvalue 0.92 → 1.61 s).
    val vc = ev.groupBy(col("value"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val rng = ev.agg(min(col("value")).as("vmin"),
      max(col("value")).as("vmax"))
    val vt = vc.groupBy(col("value")).agg(sum(col("c")).as("cnt"))
      .crossJoin(broadcast(rng))
      // vmax = vmin -> one bucket (degenerate-range guard; spec:
      // StatsDegenerateSpec)
      .withColumn("bucket",
        when(col("vmax") > col("vmin"),
          least(floor((col("value") - col("vmin")) /
            (col("vmax") - col("vmin")) * 1000), lit(999L)))
          .otherwise(lit(0L)))
    val bt = vt.groupBy(col("bucket")).agg(sum(col("cnt")).as("bcnt"))
      .withColumn("bbelow", coalesce(sum(col("bcnt")).over(
        Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("bbelow"))
    val ranks = vt.join(bt, Seq("bucket"))
      .withColumn("wbelow", coalesce(sum(col("cnt")).over(
        Window.partitionBy("bucket").orderBy("value")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("r2",
        lit(2L) * (col("bbelow") + col("wbelow")) + col("cnt") + 1)
      .select(col("value"), col("cnt"), col("r2"))
    val g = vc.join(ranks, Seq("value"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_g"), sum(col("c") * col("r2")).as("rs2"))
    val ties = ranks
      .agg(sum(col("cnt") * col("cnt") * col("cnt") - col("cnt"))
        .as("t3"))
    (g, ties)
  }

  /** A46/A63's p-value frame, dumped for their oracles (the round-12
    * materialized-intermediate pattern): the PearsonPValue kernel has
    * no DuckDB twin, but the multiple-testing CORRECTIONS — the
    * actual operators — are pure window SQL once p is data. The frame
    * is read back so the engine transforms byte-for-byte what the
    * oracle replays. */
  private[operators] def PValDump(d: String) = Dumps.path("a3_pvalues", d)

  private def corrPValuesDumped(s: SparkSession, d: String): DataFrame =
    Dumps.writeOnce(s, PValDump(d))(queries("a3_corr_pvalue")(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A2: Pearson correlation per group (value vs the json-extracted k).
    "a2_pearson_corr" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), col("value"),
          get_json_object(col("props"), "$.k").cast("double").as("k"))
        .groupBy(col("event_type"))
        .agg(r6(corrSafe(col("value"), col("k"))).as("r"),
             count(lit(1)).as("n"))
        .orderBy("event_type")),

    // A24: A2's correlation re-answered by the suite's one custom
    // TYPED Aggregator UDAF (§2.10) — Welford/Chan streaming moments,
    // map-side combinable because the state merges exactly (the
    // associativity WelfordCorrSpec golden-tests). Same input slice
    // as A2, so the built-in corr cross-anchors the custom one; also
    // oracle-checked against DuckDB corr/covar_samp directly. The
    // null pre-filter pins pair semantics (corr skips null pairs;
    // an Aggregator over primitive tuples would see 0.0).
    "a24_welford_corr" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), col("value"),
          get_json_object(col("props"), "$.k").cast("double").as("k"))
        .filter(col("value").isNotNull && col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(graft.functions.WelfordCorr.welford(col("value"), col("k"))
          .as("wc"))
        .select(col("event_type"),
          r6(col("wc.r")).as("r"),
          r6(col("wc.cov_samp")).as("cov_samp"),
          col("wc.n").as("n"))
        .orderBy("event_type")),

    // A3 companion: the autocorrelation grid cells WITHOUT the
    // p-value — fully SQL-expressible, so the rows-only a3 below gets
    // an oracle-checked anchor for every column except the p-value
    // itself (StatsSpec asserts the row-for-row match; the p-value
    // math is golden-tested in StudentTSpec/PearsonPValueSpec).
    "a3_corr_grid" -> ((s, d) =>
      grid(s, d)
        .select(col("event_type"), col("k"), r6(col("c")).as("r"), col("n"))
        .orderBy("event_type", "k")),

    // A3: correlation p-value — Student-t via the PINNED-iteration
    // incomplete-beta chain (PinnedBeta), fed the ROUNDED r the
    // oracle reproduces bit-exactly (the a41 flip precedent), so the
    // p column is cross-engine hash-checked; 6-dp output for the
    // prefactor's exp/ln. Flipped from rows-only in round 14; the
    // chain anchors to the quadrature kernel in PinnedBetaSpec.
    "a3_corr_pvalue" -> ((s, d) =>
      grid(s, d)
        .select(col("event_type"), col("k"),
          r6(col("c")).as("r"), col("n"))
        .select(col("event_type"), col("k"), col("r"), col("n"),
          r6(PinnedBeta.pearsonPCol(col("r"), col("n"))).as("p_value"))
        .orderBy("event_type", "k")),

    // A52: one-way ANOVA — does mean(value) differ across the k event
    // types? The k-group generalization of A28's two-sample t. One
    // grouped pass accumulates each group's decimal-pinned (n, Σx,
    // Σx²); SSB/SSW then derive from per-group terms folded in
    // event_type order (collect over the K-ROW group frame, not the
    // corpus — the A29/TXT13 pinned-fold discipline), so F is
    // identical IEEE arithmetic on both engines; round6 absorbs the
    // division chain. Fully oracle-checked; the p twin feeds (k−1,
    // N−k) to the F kernel (rows-only, StatsSpec-anchored).
    "a52_anova" -> ((s, d) =>
      oneWay(Tables.events(s, d).filter(col("value").isNotNull),
          col("value"))
        .select(col("k"), col("n"), r6(col("ssb")).as("ssb"),
          r6(col("ssw")).as("ssw"), fRatio.as("f_stat"))),

    // A52 p twin — upper-tail F p at (k−1, N−k) via the pinned
    // incomplete-beta chain (PinnedBeta; flipped from rows-only in
    // round 14) on a52's oracle-checked rounded F row.
    "a52_anova_pvalue" -> ((s, d) =>
      queries("a52_anova")(s, d)
        .select(col("f_stat"),
          (col("k") - 1).cast("double").as("d1"),
          (col("n") - col("k")).cast("double").as("d2"))
        .select(col("f_stat"), col("d1"), col("d2"),
          r6(PinnedBeta.fUpperPCol(col("f_stat"), col("d1"),
            col("d2"))).as("p_value"))),

    // A51: Hurst exponent by rescaled-range (R/S) analysis — the
    // long-memory diagnostic (H ≈ 0.5 random walk, > 0.5 trending,
    // < 0.5 mean-reverting) the reference's lag sweep implicitly
    // asks about. Per block size k ∈ {4, 8, 16}: chunk each type's
    // daily series into FULL consecutive k-day blocks, per block
    // R = max−min of the centered cumulative deviations and S = the
    // population std, then H = the log-log OLS slope of mean(R/S)
    // against k. Everything decomposes into windows and hash aggs
    // over the O(types×days) frame: block id from a ranking window,
    // centered cumsum from a block-partitioned window over
    // decimal-pinned sums, the 3-point OLS from the TXT15 mini-sums.
    // Output one row per event_type (plus per-k diagnostics rows
    // would be the drill-down; the slope is the decision value).
    "a51_hurst_rs" -> ((s, d) => {
      val daily = dailyMean(Tables.events(s, d), "v")
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("day")) - 1)
      val ks = Seq(4, 8, 16)
      val perK = ks.map { k =>
        val blocked = daily
          .withColumn("blk", floor(col("rn") / k))
          .withColumn("n_in_blk", count(lit(1)).over(
            Window.partitionBy("event_type", "blk")))
          .filter(col("n_in_blk") === k)
        val wBlk = Window.partitionBy("event_type", "blk")
        val wCum = wBlk.orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def dsumOver(c: Column, w: org.apache.spark.sql.expressions
            .WindowSpec) = sum(c.cast("decimal(30,12)")).over(w)
          .cast("double")
        val centered = blocked
          .withColumn("mu", dsumOver(col("v"), wBlk) / k)
          .withColumn("z", dsumOver(col("v"), wCum) -
            (col("rn") % k + 1) * col("mu"))
          .withColumn("s2", dsumOver(col("v") * col("v"), wBlk) / k -
            col("mu") * col("mu"))
          // all-equal block ⇒ S = 0 ⇒ R/S is 0/0; s2 is constant per
          // block so the guard drops whole blocks, never partial ones
          .filter(col("s2") > 0)
        centered.groupBy(col("event_type"), col("blk"))
          .agg(((max(col("z")) - min(col("z"))) /
            sqrt(max(col("s2")))).as("rs"))
          .groupBy("event_type")
          .agg((dsum(col("rs")) /
            count(lit(1))).as("mean_rs"),
            count(lit(1)).as("n_blocks"))
          .withColumn("k", lit(k))
      }
      val pts = perK.reduce(_ unionByName _)
        .withColumn("x", log(col("k").cast("double")))
        .withColumn("y", log(col("mean_rs")))
      pts.groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("m"),
          dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
          dsum(col("x") * col("x")).as("sxx"),
          dsum(col("x") * col("y")).as("sxy"),
          sum(col("n_blocks")).as("n_blocks_total"))
        .select(col("event_type"),
          r6((col("m") * col("sxy") - col("sx") * col("sy")) /
             (col("m") * col("sxx") - col("sx") * col("sx")))
            .as("hurst"),
          col("n_blocks_total"))
        .orderBy("event_type")
    }),

    // A50: Kaplan–Meier survival curve over user lifetimes — the
    // churn/retention estimator (the A30 cohort table's principled
    // sibling): lifetime = first→last event span in days; a user
    // whose last event predates the 7-day quiet horizon CHURNED
    // (event), otherwise they're CENSORED (still alive at observation
    // end) — the distinction KM exists for. S(t) = Π(1 − dᵢ/nᵢ) over
    // event times is a running PRODUCT, rewritten exp(Σ ln(·)) — the
    // W15 trick; the at-risk count nᵢ = N − (users whose lifetime
    // ended earlier) is one cumulative window over the ≤31-row
    // duration spine. Everything before the spine is a per-user hash
    // agg; the global horizon broadcasts as one row. All counts are
    // exact integers; round6 absorbs the libm ln/exp chain.
    "a50_kaplan_meier" -> ((s, d) => {
      val life = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      val horizon = Tables.events(s, d).agg(max(col("ts")).as("h"))
      val durs = life.crossJoin(broadcast(horizon))
        .select(
          datediff(to_date(col("last_ts")), to_date(col("first_ts")))
            .as("dur_days"),
          (col("last_ts") < col("h") - expr("INTERVAL 7 DAYS"))
            .as("churned"))
      val spine = durs.groupBy("dur_days")
        .agg(count(lit(1)).as("c_all"),
          sum(when(col("churned"), 1L).otherwise(0L)).as("d_churn"))
      val n = durs.agg(count(lit(1)).as("n_total"))
      val wAsc = Window.orderBy("dur_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPrev = Window.orderBy("dur_days")
        .rowsBetween(Window.unboundedPreceding, -1)
      spine.crossJoin(broadcast(n))
        .withColumn("n_at_risk",
          col("n_total") - coalesce(sum(col("c_all")).over(wPrev), lit(0L)))
        .withColumn("survival",
          exp(sum(log(lit(1.0) -
            col("d_churn").cast("double") / col("n_at_risk"))).over(wAsc)))
        .select(col("dur_days"), col("n_at_risk"), col("d_churn"),
          (col("c_all") - col("d_churn")).as("c_censored"),
          r6(col("survival")).as("survival"))
        .orderBy("dur_days")
    }),

    // A49: CUSUM drift detection — the sequential change-point
    // monitor every data-quality pipeline wants over its daily
    // metrics. The textbook form is a RECURSION (gₜ = max(0, gₜ₋₁ +
    // xₜ − μ₀ − δ)), which no window aggregate computes — but it
    // equals Sₜ − min_{j≤t} Sⱼ for the prefix sums S of (x − μ₀ − δ):
    // the recursion ELIMINATES into a running sum plus a running min,
    // two ordinary cumulative windows over one per-type shuffle.
    // μ₀ = the type's own series mean (two-pass target, broadcast
    // join); drift flagged when g > h = 3σ. Decimal-pinned prefix
    // sums; the subtraction/comparison chain is elementwise IEEE;
    // fully oracle-checked.
    "a49_cusum_drift" -> ((s, d) => {
      val daily = dailyMean(Tables.events(s, d), "v")
      def dmean(c: Column) =
        sum(c.cast("decimal(30,12)")).cast("double") / count(lit(1))
      val target = daily.groupBy("event_type")
        .agg(dmean(col("v")).as("mu0"),
          sqrt(dmean(col("v") * col("v")) -
            dmean(col("v")) * dmean(col("v"))).as("sigma"))
      val wCum = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(broadcast(target), Seq("event_type"))
        .withColumn("dev", col("v") - col("mu0") - lit(0.1) * col("sigma"))
        .withColumn("s",
          sum(col("dev").cast("decimal(30,12)")).over(wCum).cast("double"))
        .withColumn("g",
          col("s") - least(min(col("s")).over(wCum), lit(0.0)))
        .select(col("event_type"), col("day"), r6(col("v")).as("v"),
          r6(col("g")).as("g"),
          (col("g") > lit(3.0) * col("sigma")).as("drift"))
        .orderBy("event_type", "day")
    }),

    // A48: mutual information between event_type and day-of-week —
    // the information-theoretic association measure beside A41's χ²
    // and A44's V (MI is the quantity feature-selection pipelines
    // rank by). Same margin grid as A41; each cell contributes
    // p·ln(p/(p_r·p_c)) (zero-count cells contribute 0 by the
    // standard 0·ln0 = 0 convention — the CASE guard). Terms are
    // rounded per cell then summed through DECIMAL (the A44 trick),
    // so the scalar stays fully oracle-checkable; normalized MI
    // divides by the joint entropy computed the same way.
    "a48_mutual_info" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .select(col("event_type"), dayofweek(col("ts")).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
      val rowT = cells.groupBy("event_type").agg(sum(col("n")).as("rt"))
      val colT = cells.groupBy("dow").agg(sum(col("n")).as("ct"))
      val tot = cells.agg(sum(col("n")).as("t"))
      val withP = cells
        .join(rowT, Seq("event_type")).join(colT, Seq("dow"))
        .crossJoin(broadcast(tot))
        .withColumn("p", col("n").cast("double") / col("t"))
        // ln over the EXACT integer ratio n·t/(rt·ct) (all products
        // < 2^53), phrased identically in the oracle so both engines
        // feed libm the same double
        .withColumn("mi_term", r6(col("p") *
          log((col("n") * col("t")).cast("double") /
            (col("rt") * col("ct")).cast("double"))))
        .withColumn("h_term", r6(-col("p") * log(col("p"))))
      withP.agg(
          sum(col("mi_term").cast("decimal(24,10)")).cast("double").as("mi"),
          sum(col("h_term").cast("decimal(24,10)")).cast("double")
            .as("h_joint"))
        .select(r6(col("mi")).as("mi"), r6(col("h_joint")).as("h_joint"),
          r6(col("mi") / col("h_joint")).as("nmi"))
    }),

    // A47: multiple regression (two regressors + intercept) by
    // closed-form normal equations — value ~ k + hour(ts) per type:
    // the multivariate step past A34's single-regressor trend, done
    // the way a distributed engine should (one map-side-combinable
    // pass accumulating the 10 moment sums, then Cramer's rule on
    // the 3×3 normal matrix as scalar projections — no iterative
    // solver, no driver-side matrix library). Every sum is
    // decimal-pinned, the determinant arithmetic is elementwise IEEE
    // over identical doubles on both engines, round6 absorbs the
    // final division chain. A planted-plane fixture in StatsSpec
    // pins the formulas (exact recovery of known coefficients).
    "a47_ols_multiple" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_type"), col("value").as("y"),
          get_json_object(col("props"), "$.k").cast("double").as("x1"),
          hour(col("ts")).cast("double").as("x2"))
        .filter(col("y").isNotNull && col("x1").isNotNull)
      val m = base.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("x1")).as("s1"), dsum(col("x2")).as("s2"),
        dsum(col("y")).as("sy"),
        dsum(col("x1") * col("x1")).as("s11"),
        dsum(col("x1") * col("x2")).as("s12"),
        dsum(col("x2") * col("x2")).as("s22"),
        dsum(col("x1") * col("y")).as("s1y"),
        dsum(col("x2") * col("y")).as("s2y"),
        dsum(col("y") * col("y")).as("syy"))
      val det = col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
        col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
        col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))
      val d0 = col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
        col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
        col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))
      val d1 = col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
        col("sy") * (col("s1") * col("s22") - col("s12") * col("s2")) +
        col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
      val d2 = col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
        col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2")) +
        col("sy") * (col("s1") * col("s12") - col("s11") * col("s2"))
      // singular-design guard (ANSI): a constant regressor makes the
      // normal-equation determinant 0 (flat corpus) ⇒ coefficients
      // undefined ⇒ NULL row, not a throw; likewise sst = 0 (constant
      // y) leaves R² undefined (both mirrored in the oracle)
      m.withColumn("b0", when(det =!= 0.0, d0 / det))
        .withColumn("b1", when(det =!= 0.0, d1 / det))
        .withColumn("b2", when(det =!= 0.0, d2 / det))
        .withColumn("sse", col("syy") - col("b0") * col("sy") -
          col("b1") * col("s1y") - col("b2") * col("s2y"))
        .withColumn("sst",
          col("syy") - col("sy") * col("sy") / col("n"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          r6(col("b0")).as("b0"), r6(col("b1")).as("b1"),
          r6(col("b2")).as("b2"),
          r6(when(col("sst") =!= 0.0,
            lit(1.0) - col("sse") / col("sst"))).as("r2"))
        .orderBy("event_type")
    }),

    // A46: Benjamini–Hochberg FDR correction over A3's p-value grid —
    // the multiple-testing step every metric sweep needs (the
    // reference's lag grid tests 20 (type, lag) hypotheses; at
    // α=0.05, one false positive per sweep is EXPECTED without
    // correction). Step-up: rank p ascending, p_adj(i) = min over
    // j ≥ i of p(j)·m/j capped at 1 — the suffix-min is a reversed
    // running min window. The windows are single-partition but run
    // over the m-row GRID (m = 20 here, m = #hypotheses always),
    // never the fact table — the standard shape for decision layers.
    // Fully hash-checked since round 12 (the materialized-intermediate
    // pattern): the kernel p-values are dumped as data (PValDump) and
    // the DuckDB twin replays the whole step-up transform -- ranking,
    // raw = p*m/rank, the suffix-min monotone enforcement, the clamp,
    // and the unrounded 0.05 verdict. StatsSpec's sequential-recompute
    // anchor stays.
    "a46_bh_fdr" -> ((s, d) => {
      val pv = corrPValuesDumped(s, d)
      val byP = Window.orderBy(col("p_value"), col("event_type"), col("k"))
      val suffix = Window
        .orderBy(col("p_value").desc, col("event_type").desc, col("k").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val m = Window.partitionBy()
      pv.withColumn("m", count(lit(1)).over(m))
        .withColumn("rnk", row_number().over(byP))
        .withColumn("raw", col("p_value") * col("m") / col("rnk"))
        .withColumn("p_adj", least(lit(1.0), min(col("raw")).over(suffix)))
        .select(col("event_type"), col("k"), col("p_value"),
          col("rnk").cast("long").as("rnk"), r6(col("p_adj")).as("p_adj"),
          (col("p_adj") <= 0.05).as("significant"))
        .orderBy("event_type", "k")
    }),

    // A63: Holm–Bonferroni step-down — the FWER companion to A46's
    // BH step-up (BH controls the false-discovery RATE, Holm the
    // familywise error — the stricter guarantee a regulated analysis
    // needs; uniformly more powerful than plain Bonferroni): rank p
    // ascending, raw_i = (m − i + 1)·p_i, adjusted = running PREFIX
    // MAX of raw (monotone enforcement is forward here where BH's is
    // a suffix min), clamp at 1. Same lag-grid p-value family, same
    // two-window shape. Fully hash-checked since round 12 via the
    // shared PValDump (the a46 pattern -- the oracle replays the
    // step-down transform from the dumped p-values); StatsSpec's
    // sequential textbook recompute stays.
    "a63_holm" -> ((s, d) => {
      val pv = corrPValuesDumped(s, d)
      val byP = Window.orderBy(col("p_value"), col("event_type"), col("k"))
      val prefix = byP.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val m = Window.partitionBy()
      pv.withColumn("m", count(lit(1)).over(m))
        .withColumn("rnk", row_number().over(byP))
        .withColumn("raw", col("p_value") * (col("m") - col("rnk") + 1))
        .withColumn("p_adj", least(lit(1.0), max(col("raw")).over(prefix)))
        .select(col("event_type"), col("k"), col("p_value"),
          col("rnk").cast("long").as("rnk"), r6(col("p_adj")).as("p_adj"),
          (col("p_adj") <= 0.05).as("significant"))
        .orderBy("event_type", "k")
    }),

    // A64: Newey–West (HAC) standard error — the econometrics answer
    // to "my daily series is autocorrelated, so the naive sqrt(γ₀/n)
    // understates the mean's uncertainty" (A40 measures the ACF; this
    // USES it): long-run variance = γ₀ + 2·Σⱼ (1 − j/(L+1))·γⱼ with
    // Bartlett weights (PSD-guaranteed), L = 5 lags. Per series: the
    // group mean broadcasts back (a25's pattern), lagged demeaned
    // products come from L lag-windows sharing ONE series shuffle,
    // every γ sum decimal-pinned (w17's contract). Reported as naive
    // vs HAC se with their ratio — the inflation factor a
    // positively-autocorrelated series needs. Fully oracle-checked.
    "a64_newey_west" -> ((s, d) => {
      val L = 5
      val dly = dailyMean(Tables.events(s, d), "y")
      val mu = dly.groupBy(col("event_type"))
        .agg((sum(col("y").cast("decimal(24,10)")).cast("double") /
          count(lit(1))).as("mu"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val dm = dly.join(broadcast(mu), Seq("event_type"))
        .withColumn("dv", col("y") - col("mu"))
      val withLags = (1 to L).foldLeft(dm) { (df, j) =>
        df.withColumn(s"p$j",
          (col("dv") * lag(col("dv"), j).over(w)).cast("decimal(24,10)"))
      }
      val aggs: Seq[Column] = count(lit(1)).as("n") +:
        sum((col("dv") * col("dv")).cast("decimal(24,10)"))
          .cast("double").as("g0") +:
        (1 to L).map(j => sum(col(s"p$j")).cast("double").as(s"g$j"))
      val gammas = withLags.groupBy(col("event_type"))
        .agg(aggs.head, aggs.tail: _*)
      val longrun = (1 to L).foldLeft(col("g0") / col("n")) { (acc, j) =>
        acc + lit(2.0 * (1.0 - j.toDouble / (L + 1))) *
          (col(s"g$j") / col("n"))
      }
      gammas.select(col("event_type"), col("n").as("n_days"),
          round(sqrt((col("g0") / col("n")) / col("n")), 6).as("se_naive"),
          round(sqrt(longrun / col("n")), 6).as("se_hac"),
          round(sqrt(longrun / col("n")) /
            sqrt((col("g0") / col("n")) / col("n")), 6).as("inflation"))
        .orderBy("event_type")
    }),

    // A65: Cohen's d effect size — the continuous companion to A44's
    // Cramér's V (significance tests say whether a difference exists;
    // effect sizes say whether it MATTERS — at 100 TB everything is
    // "significant", so the effect size is the decision value):
    // d = (mean_a − mean_b) / s_pooled with the exact pooled sample
    // sd, plus Hedges' g small-sample correction (1 − 3/(4(n−2)−1)).
    // Same one-pass conditional-aggregate shape as A28; fully
    // oracle-checked (avg/var_samp definitional, r6 absorbs moment
    // merge order — the a2 contract).
    "a65_cohens_d" -> ((s, d) => {
      clickPurchaseMoments(s, d)
        .withColumn("sp", sqrt(
          ((col("n_a") - 1) * col("var_a") + (col("n_b") - 1) * col("var_b"))
            / (col("n_a") + col("n_b") - 2)))
        // zero pooled variance (all observations identical) -> the
        // standardized effect is undefined -> NULL (ANSI /0 guard;
        // spec: StatsDegenerateSpec)
        .withColumn("d_raw",
          when(col("sp") > 0,
            (col("mean_a") - col("mean_b")) / col("sp")))
        .select(col("n_a"), col("n_b"),
          round(col("d_raw"), 6).as("cohens_d"),
          round(col("d_raw") * (lit(1.0) -
            lit(3.0) / (lit(4.0) * (col("n_a") + col("n_b") - 2) - 1)), 6)
            .as("hedges_g"))
    }),

    // A28: Welch two-sample t-test — does mean(value) differ between
    // click and purchase events? The unequal-variance form (no pooled
    // variance) with Welch–Satterthwaite fractional df. One pass over
    // the fact table: conditional aggregates (count/avg/var_samp over
    // CASE slices) are a single map-side-combinable hash agg — the two
    // groups never materialize separately, the 100 TB shape for A/B
    // comparisons. t and df are scalar projections on the 1-row
    // aggregate; fully oracle-checkable (avg/var_samp exist in DuckDB,
    // round6 absorbs partial-aggregation-order ulps, the a2 pattern).
    "a28_welch_ttest" -> ((s, d) => {
      clickPurchaseMoments(s, d)
        // zero variance in BOTH groups (or an empty/singleton group)
        // makes t/df undefined -> NULL (ANSI /0 guard;
        // StatsDegenerateSpec ratchet)
        .withColumn("se2_a",
          when(col("n_a") > 0, col("var_a") / col("n_a")))
        .withColumn("se2_b",
          when(col("n_b") > 0, col("var_b") / col("n_b")))
        .withColumn("t_raw",
          when(col("se2_a") + col("se2_b") > 0,
            (col("mean_a") - col("mean_b")) /
              sqrt(col("se2_a") + col("se2_b"))))
        .withColumn("df_raw",
          when(col("n_a") > 1 && col("n_b") > 1 &&
               pow(col("se2_a"), 2) / (col("n_a") - 1) +
                 pow(col("se2_b"), 2) / (col("n_b") - 1) > 0,
            pow(col("se2_a") + col("se2_b"), 2) /
              (pow(col("se2_a"), 2) / (col("n_a") - 1) +
               pow(col("se2_b"), 2) / (col("n_b") - 1))))
        .select(col("n_a"), col("n_b"),
          r6(col("mean_a")).as("mean_a"), r6(col("mean_b")).as("mean_b"),
          r6(col("t_raw")).as("t_stat"), r6(col("df_raw")).as("df_welch"))
    }),

    // A28 p-value twin: two-sided p at the FRACTIONAL Welch df — the
    // pinned incomplete-beta chain is continuous in df exactly like
    // the kernel, so even Satterthwaite's non-integer df replays in
    // DuckDB (PinnedBeta; flipped from rows-only in round 14). Inputs
    // are a28's own rounded t/df columns, hash-checked upstream.
    "a28_welch_pvalue" -> ((s, d) => {
      val base = queries("a28_welch_ttest")(s, d)
      base.withColumn("p_value",
        r6(PinnedBeta.tTwoSidedPCol(col("t_stat"), col("df_welch"))))
    }),

    // A29: Benford first-digit screen — the classic financial-forensics
    // goodness-of-fit: do order totals' leading digits follow
    // log10(1 + 1/d)? First digit comes from the INTEGER rendering
    // (substring of the exact BIGINT string — no float-log boundary
    // risk at powers of ten), a digit spine keeps zero-count digits in
    // the statistic, and the Benford expectations are Scala-computed
    // doubles inlined as literals in BOTH engines (the W12 generated-
    // oracle pattern) → every column oracle-checked. One hash agg over
    // the fact table; everything after is 9 rows.
    "a29_benford" -> ((s, d) => {
      val pd = (1 to 9).map(dd => math.log10(1.0 + 1.0 / dd))
      val digit = substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("int")
      val counts = Tables.orders(s, d).filter(col("o_totalprice") >= 1)
        .select(digit.as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      s.range(1, 10).select(col("id").cast("int").as("digit"))
        .join(counts, Seq("digit"), "left")
        .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
        .crossJoin(broadcast(total))
        .withColumn("expected",
          col("total") * element_at(array(pd.map(lit): _*), col("digit")))
        .withColumn("term",
          (col("n").cast("double") - col("expected")) *
            (col("n").cast("double") - col("expected")) / col("expected"))
        .select(col("digit"), col("n"), r6(col("expected")).as("expected"),
          r6(col("term")).as("term"))
        .orderBy("digit")
    }),

    // A35: Mann–Whitney U (Wilcoxon rank-sum) — the nonparametric
    // two-sample location test beside A33's distribution-shape KS and
    // A28's parametric Welch. Midranks with exact tie correction, and
    // the same bucketed two-level cumulative as A33 (no global sort).
    // The float discipline is structural: every midrank is an exact
    // half-integer (c_before + (t+1)/2), so R1 = Σ k1·midrank is a sum
    // of exactly-representable multiples of 0.5 — order-INSENSITIVE by
    // construction, no decimal cast needed — and U, the tie term, and
    // z's variance are all integer arithmetic + one sqrt/division
    // chain over identical doubles → z is raw-double oracle-checked.
    // (Asymptotic z without continuity correction; the p twin below.)
    "a35_mannwhitney" -> ((s, d) => {
      val (spine, bounds) = midrankSpine(s, d)
      val ranked = spine
        .withColumn("midrank",
          (col("off") + col("cin")).cast("double") +
            (col("k") + 1).cast("double") / 2.0)
      val aggd = ranked.agg(
        sum(col("k1").cast("double") * col("midrank")).as("r1"),
        sum(col("k") * col("k") * col("k") - col("k")).as("ties"))
      aggd.crossJoin(broadcast(bounds.select(col("n1"), col("n2"))))
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("u1",
          col("r1") - (col("n1") * (col("n1") + 1)).cast("double") / 2.0)
        // fully-tied samples zero sigma (and n <= 1 zeroes the
        // tie-term denominator) -> z undefined -> NULL (ANSI /0
        // guard; ratchet spec)
        .withColumn("sigma",
          when(col("n") > 1, sqrt(
            (col("n1") * col("n2")).cast("double") / 12.0 *
              ((col("n") + 1).cast("double") -
                col("ties").cast("double") /
                  (col("n") * (col("n") - 1)).cast("double")))))
        .withColumn("z",
          when(col("sigma") > 0,
            (col("u1") - (col("n1") * col("n2")).cast("double") / 2.0) /
              col("sigma")))
        .select(col("n1"), col("n2"), col("r1"), col("u1"), col("z"))
    }),

    // A35 p twin: two-sided asymptotic p = P(|Z| > |z|) = erfc(|z|/√2)
    // via the PinnedSeries exact Taylor chain — pure IEEE arithmetic
    // on the main query's hash-checked raw z, so p is BIT-IDENTICAL
    // across engines (no rounding anywhere) and the twin is fully
    // hash-checked (flipped from rows-only in round 14; the kernel
    // agreement stays pinned in StatsSpec + PinnedSeriesSpec).
    "a35_mw_pvalue" -> ((s, d) =>
      queries("a35_mannwhitney")(s, d)
        .select(col("n1"), col("n2"), col("z"),
          PinnedSeries.normalTwoSidedCol(col("z")).as("p_value"))),

    // A34: OLS trend per series — slope/intercept/R² of the daily
    // average against the day index, the "is this series drifting"
    // regression the lag grid's correlations stop short of. Spark's
    // regr_* aggregates are map-side-combinable moment merges (one
    // hash agg, same shape as A2); daily y pins through the decimal
    // discipline so both engines regress over identical inputs; r6
    // absorbs the engines' different moment-update orders (A2's
    // contract). DuckDB's regr_* family matches definitionally.
    "a34_ols_trend" -> ((s, d) => {
      val dly = dailyMean(Tables.events(s, d), "y")
        .withColumn("x",
          datediff(col("day"), lit("2024-01-01")).cast("double"))
      dly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          r6(expr("regr_slope(y, x)")).as("slope"),
          r6(expr("regr_intercept(y, x)")).as("intercept"),
          r6(expr("regr_r2(y, x)")).as("r2"))
        .orderBy("event_type")
    }),

    // A54: Theil–Sen robust trend — the median of all pairwise slopes
    // (Sen 1968), the outlier-immune complement to A34's OLS (one
    // corrupted day drags a least-squares slope arbitrarily; it moves
    // a median of C(n,2) slopes by one rank). The day-pair self-join
    // is bounded by the TIME dimension, not the corpus: n_days rows
    // per series join to C(n_days, 2) pairs regardless of how many
    // billions of events fold into each daily mean — the hash agg to
    // daily means is the only corpus-wide pass. Slopes are
    // elementwise IEEE divisions of decimal-pinned daily means;
    // median via the same interpolating percentile a17 proves;
    // intercept = median(y − slope·x). Fully oracle-checked.
    "a54_theil_sen" -> ((s, d) => {
      val (dly, pairs) = slopePairs(s, d)
      val slope = pairs
        .filter(col("x2") > col("x1"))
        .select(col("event_type"),
          ((col("y2") - col("y1")) / (col("x2") - col("x1"))).as("m"))
        .groupBy(col("event_type"))
        .agg(expr("percentile(m, 0.5)").as("slope"))
      dly.join(slope, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(max(col("slope")), 6).as("slope"),
          round(expr("percentile(y - slope * x, 0.5)"), 6).as("intercept"))
        .orderBy("event_type")
    }),

    // A55: Mann–Kendall trend test — the significance companion to
    // A54's Theil–Sen slope (the two are the standard pairing: Sen
    // estimates the trend, Mann–Kendall tests whether it exists):
    // S = Σ sign(y_j − y_i) over the SAME bounded day-pair join,
    // Var(S) with the tie correction, continuity-corrected z. Every
    // quantity up to z is exact integer arithmetic (sign sums, tie
    // polynomials); z is one division + sqrt of exact ints → IEEE
    // bit-identical. Fully oracle-checked; the p twin below is
    // rows-only (normal tail via the χ²₁ identity, the a35 pattern).
    "a55_mann_kendall" -> ((s, d) =>
      mkBase(s, d).orderBy("event_type")),

    // A55 p twin: two-sided normal tail of the oracle-checked z via
    // the PinnedSeries erfc chain — mkBase's z is 6-dp-rounded and
    // hash-proven, so the pure-IEEE series gives a bit-identical raw
    // p in both engines (flipped from rows-only in round 14).
    // Consumes the SAME materialized base as a55 — the twin pair pays
    // the day-pair join once, not twice.
    "a55_mk_pvalue" -> ((s, d) =>
      mkBase(s, d)
        .select(col("event_type"), col("n_days"), col("s"), col("z"),
          PinnedSeries.normalTwoSidedCol(col("z")).as("p_value"))
        .orderBy("event_type")),

    // A66: rank correlation between the click and purchase daily-mean
    // series — the robust companions to A3's Pearson: Spearman's ρ
    // (Pearson over value ranks — monotone association, outlier-
    // immune) and Kendall's τ (sign concordance over day pairs — the
    // probabilistic "do they move together" reading). Ranks are
    // integers from rank() ORDER BY value (identical in both engines;
    // the daily means are continuous so ties are measure-zero and
    // τ-a = τ-b), the concordance sum is exact ±1 arithmetic over the
    // TIME-bounded day-pair join (a55's scale argument: C(n_days, 2)
    // pairs, never corpus-sized — the small side broadcast). Fully
    // oracle-checked.
    "a66_rank_corr" -> ((s, d) => {
      val dly = dailyMean(Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase")), "y")
      val j = dly.filter(col("event_type") === "click")
        .select(col("day"), col("y").as("xc"))
        .join(dly.filter(col("event_type") === "purchase")
          .select(col("day"), col("y").as("xp")), Seq("day"))
      val ranked = j
        .withColumn("rc",
          rank().over(Window.orderBy("xc")).cast("double"))
        .withColumn("rp",
          rank().over(Window.orderBy("xp")).cast("double"))
      val rho = ranked.agg(count(lit(1)).as("n_days"),
        corrSafe(col("rc"), col("rp")).as("rho"))
      val sAgg = j.select(col("day").as("d1"), col("xc").as("c1"),
          col("xp").as("p1"))
        .join(broadcast(j.select(col("day").as("d2"), col("xc").as("c2"),
          col("xp").as("p2"))), col("d1") < col("d2"))
        .agg(sum(signum(col("c2") - col("c1")) *
          signum(col("p2") - col("p1"))).as("s"))
      rho.crossJoin(sAgg)
        .select(col("n_days"), r6(col("rho")).as("spearman_rho"),
          r6(col("s") / (col("n_days") * (col("n_days") - 1) / lit(2.0d)))
            .as("kendall_tau"))
    }),

    // A56: bootstrap confidence interval — DETERMINISTIC distributed
    // bootstrap (the resampling stats primitive that needs no
    // distributional assumption where A34/A54's trends assume one):
    // B = 200 resamples of each series' daily means, the (b, i)-th
    // draw picked by the engine's md5-uniform ladder (seeded, exact
    // in both engines — DS1's reproducibility contract applied to
    // resampling), so the "random" bootstrap is a pure function of
    // the data and fully oracle-checkable. Resample means go through
    // the decimal discipline (exact sums, no float-order drift);
    // CI bounds via the a17-proven interpolating percentile. Scale
    // shape: the corpus-wide pass is the daily-mean hash agg; the
    // resample fan-out is |types| × B × n_days rows — bounded by the
    // TIME dimension like A54, never by the corpus.
    "a56_bootstrap_ci" -> ((s, d) => {
      val B = 200
      val w = Window.partitionBy("event_type").orderBy("day")
      val dly = dailyMean(Tables.events(s, d), "y")
        .withColumn("idx", row_number().over(w) - 1)
      val n = dly.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val draws = n
        .select(col("event_type"), col("n"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .select(col("event_type"), col("n"), col("b"),
          explode(sequence(lit(0), col("n") - 1)).as("i"))
        .select(col("event_type"), col("b"),
          pmod(conv(substring(md5(concat_ws(":",
              col("event_type"), col("b"), col("i"))), 1, 15), 16, 10)
            .cast("long"), col("n")).as("idx"))
      val means = draws
        .join(dly.select(col("event_type"), col("idx"), col("y")),
          Seq("event_type", "idx"))
        .groupBy(col("event_type"), col("b"))
        .agg((sum(col("y").cast("decimal(24,10)")).cast("double") /
          count(lit(1))).as("m"))
      means.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_resamples"),
          round(expr("percentile(m, 0.025)"), 6).as("ci_lo"),
          round(expr("percentile(m, 0.5)"), 6).as("ci_mid"),
          round(expr("percentile(m, 0.975)"), 6).as("ci_hi"))
        .orderBy("event_type")
    }),

    // A57: deterministic permutation test — the resampling companion
    // to A56: does the click vs purchase daily-mean difference
    // survive label exchange? Each of B = 200 permutations ranks the
    // pooled elements by a seeded md5 key and takes the top n₁ as
    // pseudo-group-1 (an EXACT permutation draw — sampling without
    // replacement via hash ranking, not a binomial approximation),
    // so the whole test is a pure function of the data and fully
    // oracle-checked. p = (1 + #{|diff_b| ≥ |observed|}) / (B + 1)
    // (the add-one estimator — never exactly zero). Decimal sums
    // everywhere; the rank window partitions by permutation id, so
    // the fan-out (B × n elements, time-bounded like A54/A56)
    // parallelizes across permutations.
    "a57_permutation_test" -> ((s, d) => {
      val B = 200
      val w = Window.partitionBy("event_type").orderBy("day")
      val el = dailyMean(Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase")), "y")
        .withColumn("eid", concat_ws(":", col("event_type"),
          (row_number().over(w) - 1)))
        .select(col("eid"), col("event_type").as("g"), col("y"))
      val stats = el.agg(
        sum(when(col("g") === "click", 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") =!= "click", 1L).otherwise(0L)).as("n2"),
        (sum(when(col("g") === "click", col("y").cast("decimal(24,10)"))
            .otherwise(lit(0).cast("decimal(24,10)"))).cast("double") /
          sum(when(col("g") === "click", 1L).otherwise(0L)) -
         sum(when(col("g") =!= "click", col("y").cast("decimal(24,10)"))
            .otherwise(lit(0).cast("decimal(24,10)"))).cast("double") /
          sum(when(col("g") =!= "click", 1L).otherwise(0L))).as("obs"))
      val wb = Window.partitionBy("b")
        .orderBy(col("h"), col("eid"))
      val diffs = el
        .select(col("eid"), col("y"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("h", md5(concat_ws(":", col("b"), col("eid"))))
        .withColumn("r", row_number().over(wb))
        .crossJoin(broadcast(stats))
        .groupBy(col("b"))
        .agg((sum(when(col("r") <= col("n1"),
              col("y").cast("decimal(24,10)"))
            .otherwise(lit(0).cast("decimal(24,10)"))).cast("double") /
            max(col("n1")) -
          sum(when(col("r") > col("n1"), col("y").cast("decimal(24,10)"))
            .otherwise(lit(0).cast("decimal(24,10)"))).cast("double") /
            max(col("n2"))).as("diff"),
          max(abs(col("obs"))).as("aobs"))
      diffs
        .agg(sum(when(abs(col("diff")) >= col("aobs"), 1L).otherwise(0L))
          .as("n_extreme"))
        .crossJoin(broadcast(stats))
        .select(col("n1"), col("n2"), round(col("obs"), 6).as("obs_diff"),
          col("n_extreme"),
          round((col("n_extreme") + 1).cast("double") / (B + 1), 6)
            .as("p_value"))
    }),

    // A58: classical seasonal decomposition (additive y = trend +
    // seasonal + residual) — A42 measures weekly seasonality; this
    // SEPARATES the series into the three components every anomaly
    // detector and forecaster consumes. Trend = centered 7-day moving
    // average (full-window only — edges stay NULL rather than biased);
    // seasonal = per-weekday mean of the detrended series, re-centered
    // to sum to zero over the week (the identifiability constraint);
    // residual = the rest. Sliding and grouped sums go through the
    // decimal discipline (w17's contract), so Spark's re-accumulating
    // window and DuckDB's segment tree cannot diverge. One (type)
    // shuffle for the window + one tiny weekday agg broadcast back.
    // Fully oracle-checked.
    "a58_seasonal_decomp" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val dly = dailyMean(Tables.events(s, d), "y")
      val tr = dly
        .withColumn("trend",
          when(count(lit(1)).over(w) === 7,
            sum(col("y").cast("decimal(24,10)")).over(w).cast("double") / 7))
        .withColumn("dt", col("y") - col("trend"))
        .withColumn("dow", dayofweek(col("day")))
      val sea = tr.filter(col("dt").isNotNull)
        .groupBy(col("event_type"), col("dow"))
        .agg((sum(col("dt").cast("decimal(24,10)")).cast("double") /
          count(lit(1))).as("s_raw"))
      // re-center over however many dow groups the series actually
      // produced (a short series — 3-day trend edges NULLed — can have
      // fewer than 7), so the zero-sum constraint holds identically
      val seaCentered = sea
        .withColumn("s_mean",
          sum(col("s_raw").cast("decimal(24,10)"))
            .over(Window.partitionBy("event_type")).cast("double") /
            count(lit(1)).over(Window.partitionBy("event_type")))
        .select(col("event_type"), col("dow"),
          (col("s_raw") - col("s_mean")).as("seasonal"))
      tr.join(broadcast(seaCentered), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("y"),
          round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          round(col("y") - col("trend") - col("seasonal"), 6).as("residual"))
        .orderBy("event_type", "day")
    }),

    // A60: CUPED variance reduction — the experimentation-platform
    // staple (Deng et al. 2013, WSDM: "Improving the Sensitivity of
    // Online Controlled Experiments"): adjust each user's experiment
    // metric Y by their PRE-period covariate X, Y' = Y − θ(X − X̄)
    // with θ = cov(X,Y)/var(X), shrinking metric variance by the
    // factor (1 − ρ²) without biasing the mean (E[Y'] = E[Y]
    // identically). Everything reduces to ONE user-level moment
    // aggregate: var(Y') = var(Y) − cov²/var(X) — no second pass
    // over adjusted rows. Pre/post user means go through the decimal
    // discipline; the population moments are definitional on both
    // engines (r6 absorbs moment-merge order, A2's contract). Fully
    // oracle-checked.
    "a60_cuped" -> ((s, d) => {
      val mid = lit("2024-01-16 00:00:00").cast("timestamp")
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts") < mid, col("value").cast("decimal(24,10)")))
            .as("sx"),
          count(when(col("ts") < mid, lit(1))).as("nx"),
          sum(when(col("ts") >= mid, col("value").cast("decimal(24,10)")))
            .as("sy"),
          count(when(col("ts") >= mid, lit(1))).as("ny"))
        .filter(col("nx") > 0 && col("ny") > 0)
        .select(
          (col("sx").cast("double") / col("nx")).as("x"),
          (col("sy").cast("double") / col("ny")).as("y"))
      perUser
        .agg(count(lit(1)).as("n_users"),
          covar_pop(col("x"), col("y")).as("cxy"),
          var_pop(col("x")).as("vx"),
          var_pop(col("y")).as("vy"))
        // zero-variance guards (ANSI): a flat corpus has vx = vy = 0
        // ⇒ θ and the reduction are undefined ⇒ NULL, not a throw
        // (mirrored in the oracle)
        .select(col("n_users"),
          round(when(col("vx") =!= 0.0, col("cxy") / col("vx")), 6)
            .as("theta"),
          round(col("vy"), 6).as("var_y"),
          round(when(col("vx") =!= 0.0,
            col("vy") - col("cxy") * col("cxy") / col("vx")), 6)
            .as("var_y_adj"),
          round(when(col("vx") =!= 0.0 && col("vy") =!= 0.0,
            (col("cxy") * col("cxy") / col("vx")) / col("vy")), 6)
            .as("var_reduction"))
    }),

    // A61: Value-at-Risk + Conditional VaR (expected shortfall) — the
    // tail-risk block the reference's A10 metrics stop short of (and
    // the regulatory standard since Basel/RiskMetrics): VaR₅ = the
    // 5th-percentile daily return, CVaR₅ = the mean return GIVEN the
    // tail (coherent where VaR alone is not). Daily returns from
    // decimal-pinned means (elementwise IEEE — bit-identical); the
    // per-series VaR thresholds are a group-cardinality row set
    // broadcast back onto the returns (the a13/a25 bounds pattern),
    // so the tail mean is one more keyed agg, never a re-sort; tail
    // sums decimal-exact. Fully oracle-checked.
    "a61_var_cvar" -> ((s, d) => {
      val wl = Window.partitionBy("event_type").orderBy("day")
      val rets = dailyMean(Tables.events(s, d), "y")
        .withColumn("prev", lag(col("y"), 1).over(wl))
        .filter(col("prev").isNotNull && col("prev") =!= 0.0)
        .withColumn("r", (col("y") - col("prev")) / col("prev"))
      val varT = rets.groupBy(col("event_type"))
        .agg(expr("percentile(r, 0.05)").as("var05"))
      rets.join(broadcast(varT), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(max(col("var05")), 6).as("var_05"),
          round(sum(when(col("r") <= col("var05"),
              col("r").cast("decimal(24,10)"))).cast("double") /
            sum(when(col("r") <= col("var05"), 1L).otherwise(0L)), 6)
            .as("cvar_05"))
        .orderBy("event_type")
    }),

    // A62: difference-in-differences — the quasi-experimental
    // estimator completing the experimentation block (A57 tests by
    // permutation, A60 reduces variance, this handles the NO-random-
    // assignment case): DiD = (T,post − T,pre) − (C,post − C,pre),
    // which cancels both the group-level baseline difference and the
    // common time trend. Assignment is the deterministic user parity
    // (a stand-in for a rollout cohort); all four cell means are
    // decimal-exact conditional sums in ONE pass (the sql21 CASE
    // pattern). Fully oracle-checked.
    "a62_diff_in_diff" -> ((s, d) => {
      val mid = lit("2024-01-16 00:00:00").cast("timestamp")
      val treated = col("user_id") % 2 === 0
      val post = col("ts") >= mid
      def cell(p: Column): Column =
        sum(when(p, col("value").cast("decimal(24,10)"))
          .otherwise(lit(0).cast("decimal(24,10)"))).cast("double") /
          sum(when(p, 1L).otherwise(0L))
      Tables.events(s, d)
        .agg(cell(treated && !post).as("t_pre"),
          cell(treated && post).as("t_post"),
          cell(!treated && !post).as("c_pre"),
          cell(!treated && post).as("c_post"))
        .select(round(col("t_pre"), 6).as("t_pre"),
          round(col("t_post"), 6).as("t_post"),
          round(col("c_pre"), 6).as("c_pre"),
          round(col("c_post"), 6).as("c_post"),
          round((col("t_post") - col("t_pre")) -
            (col("c_post") - col("c_pre")), 6).as("did"))
    }),

    // A33: two-sample Kolmogorov–Smirnov test — does the click value
    // distribution differ from the purchase one? D = max |F1 − F2|
    // over the pooled values, computed WITHOUT a global sort: values
    // hash into 1024 range buckets (bounds broadcast, the a13
    // pattern), the within-bucket cumulative runs partitioned by
    // bucket (parallel), and only the ≤1024-row bucket-offset
    // cumulative touches a single-partition window — the two-level
    // ECDF every distributed KS implementation uses. Per-value
    // grouping makes tie handling exact; every F difference is one
    // long→double division (bit-identical IEEE), so D is raw-double
    // oracle-checked. The asymptotic p (Kolmogorov series, 10 terms
    // in pinned left-assoc order) differs only by libm exp ulps →
    // round6, same as TXT11's ln discipline.
    "a33_ks_test" -> ((s, d) => {
      val (spine, bounds) = cvmSpine(s, d)
      val d0 = spine
        .select(abs(col("c1").cast("double") / col("n1") -
          col("c2").cast("double") / col("n2")).as("diff"))
        .agg(max(col("diff")).as("ks_d"))
      val lamC = col("ks_d") *
        sqrt((col("n1") * col("n2")).cast("double") / (col("n1") + col("n2")))
      val series = (1 to 10).map(k =>
        exp(lit(-2.0 * k * k) * col("lam") * col("lam")) *
          lit(if (k % 2 == 1) 1.0 else -1.0)).reduce(_ + _)
      d0.crossJoin(broadcast(bounds.select(col("n1"), col("n2"))))
        .withColumn("lam", lamC)
        .select(col("n1"), col("n2"), col("ks_d"),
          r6(least(lit(1.0), greatest(lit(0.0), lit(2.0) * series)))
            .as("p_value"))
    }),

    // A29 p-value twin: χ² = Σ terms (folded in digit order over the
    // ROUNDED oracle-checked terms) at 8 dof, upper-tail p via the
    // PinnedSeries exact even-df survival series on the 6-dp-rounded
    // fold; 6-dp output for the one exp(−y). Fully hash-checked
    // (flipped from rows-only in round 14): the DuckDB twin replays
    // the digit-ordered fold with list_sum and the identical series.
    "a29_benford_pvalue" -> ((s, d) =>
      queries("a29_benford")(s, d)
        .agg(aggregate(
          array_sort(collect_list(struct(col("digit"), col("term")))),
          lit(0.0d), (acc, x) => acc + x.getField("term")).as("chi2"))
        .select(r6(col("chi2")).as("chi2"), lit(8L).as("df"),
          r6(PinnedSeries.chiSqPCol(r6(col("chi2")), lit(8.0d)))
            .as("p_value"))),

    // A4: best config per key by max |corr| (deterministic tiebreak).
    "a4_best_config" -> ((s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(abs(col("c")).desc, col("k").asc)
      grid(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("k").as("best_k"),
          r6(col("c")).as("r"), col("n"))
        .orderBy("event_type")
    }),

    // A8: trade-metrics block over pnl-shaped rows (single row).
    "a8_trade_metrics" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select((col("value") - 100).as("pnl"))
        .agg(
          count(lit(1)).as("n_trades"),
          sum(when(col("pnl") > 0, 1L).otherwise(0L)).as("wins"),
          r6(sum(when(col("pnl") > 0, 1.0).otherwise(0.0)) / count(lit(1)))
            .as("win_rate"),
          r6(avg(when(col("pnl") > 0, col("pnl")))).as("avg_win"),
          r6(avg(when(col("pnl") <= 0, col("pnl")))).as("avg_loss"),
          r6(max(col("pnl"))).as("largest_win"),
          r6(min(col("pnl"))).as("largest_loss"),
          r6(sum(when(col("pnl") > 0, col("pnl")).otherwise(0.0)) /
             abs(sum(when(col("pnl") <= 0, col("pnl")).otherwise(0.0))))
            .as("profit_factor"),
          r6(avg(col("pnl"))).as("expectancy"))),

    // A10: risk-metrics block — annualized return/vol, Sharpe, Sortino,
    // Calmar, max drawdown — over the daily revenue-return series.
    // pandas .std() is sample stddev (ddof=1) → stddev_samp throughout.
    // Outputs are cast to FLOAT: (1+mu)^252 amplifies summation-order
    // ulps to ~1e34 where round(,6) can't absorb them; float32's
    // relative 6e-8 grid makes the compare order-insensitive.
    "a10_risk_metrics" -> ((s, d) => {
      val rets = dailyReturns(s, d)
      val wCum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val withDd = rets
        .withColumn("peak", max(col("rev")).over(wCum))
        .withColumn("dd", col("rev") / col("peak") - 1)
      withDd.agg(
          avg(col("r")).as("mu"),
          stddev_samp(col("r")).as("sigma"),
          stddev_samp(when(col("r") < 0, col("r"))).as("downside"),
          min(col("dd")).as("max_dd"))
        .select(
          r6(col("mu")).cast("float").as("mean_daily"),
          r6(col("sigma")).cast("float").as("std_daily"),
          (pow(lit(1.0) + col("mu"), 252.0) - 1).cast("float").as("ann_return"),
          r6(col("sigma") * sqrt(lit(252.0))).cast("float").as("ann_vol"),
          // zero-denominator guards (ANSI): a flat revenue series has
          // σ = 0 and max_dd = 0 ⇒ the ratios are undefined ⇒ NULL,
          // not a throw (mirrored in the oracle's CASE arms)
          when(col("sigma") * sqrt(lit(252.0)) =!= 0.0,
            (pow(lit(1.0) + col("mu"), 252.0) - 1) /
              (col("sigma") * sqrt(lit(252.0)))).cast("float").as("sharpe"),
          when(col("downside") * sqrt(lit(252.0)) =!= 0.0,
            (pow(lit(1.0) + col("mu"), 252.0) - 1) /
              (col("downside") * sqrt(lit(252.0)))).cast("float")
            .as("sortino"),
          when(abs(col("max_dd")) =!= 0.0,
            (pow(lit(1.0) + col("mu"), 252.0) - 1) / abs(col("max_dd")))
            .cast("float").as("calmar"),
          r6(col("max_dd")).cast("float").as("max_dd"))
    }),

    // A11: monthly compounded return = exp(Σ ln(1+r)) − 1.
    "a11_monthly_returns" -> ((s, d) =>
      dailyReturns(s, d)
        .groupBy(date_trunc("month", col("day")).as("month"))
        .agg(r6(exp(sum(log(lit(1.0) + col("r")))) - 1).as("ret"),
             count(lit(1)).as("n_days"))
        .orderBy("month")),

    // A12: annual rollup (sum of monthly returns, as the heatmap does).
    "a12_annual_rollup" -> ((s, d) =>
      dailyReturns(s, d)
        .groupBy(date_trunc("month", col("day")).as("month"))
        .agg((exp(sum(log(lit(1.0) + col("r")))) - 1).as("mret"))
        .groupBy(year(col("month")).cast("int").as("yr"))
        .agg(r6(sum(col("mret"))).as("yearly_ret"))
        .orderBy("yr")),

    // A13: histogram binning — 15 equal-width global bins per event_type.
    "a13_histogram" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val bounds = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      ev.crossJoin(broadcast(bounds))
        // hi = lo -> one bin (the degenerate-range guard class;
        // spec: StatsDegenerateSpec ratchet)
        .withColumn("bin",
          when(col("hi") > col("lo"),
            least(floor((col("value") - col("lo")) /
              ((col("hi") - col("lo")) / 15.0)), lit(14.0)))
            .otherwise(lit(0.0)).cast("long"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    }),

    // A14: heatmap argmax/argmin cell — best and worst month.
    "a14_heatmap_argmax" -> ((s, d) => {
      val monthly = dailyReturns(s, d)
        .groupBy(date_trunc("month", col("day")).as("month"))
        .agg((exp(sum(log(lit(1.0) + col("r")))) - 1).as("ret"))
      val wBest = Window.orderBy(col("ret").desc, col("month"))
      val wWorst = Window.orderBy(col("ret").asc, col("month"))
      val best = monthly.withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(lit("best").as("kind"), col("month"), r6(col("ret")).as("ret"))
      val worst = monthly.withColumn("rn", row_number().over(wWorst))
        .filter(col("rn") === 1)
        .select(lit("worst").as("kind"), col("month"), r6(col("ret")).as("ret"))
      best.unionByName(worst).orderBy("kind")
    }),

    // A40: autocorrelation function — ACF(1..5) of each type's daily
    // series, the serial-dependence diagnostic behind every
    // stationarity / seasonality check (and the quantity the
    // reference's lag analysis implicitly sweeps: lag_grid correlates
    // sentiment against FUTURE returns; ACF is the same machinery
    // pointed at the series' own past). One per-type window cascade
    // builds the K lag columns, stack() unpivots them to (lag_k,
    // prev) rows, and one grouped corr per (type, lag) finishes —
    // the fact table aggregates once, the windows run over
    // O(types×days) rows, and corr at round6 is the proven A2
    // cross-engine discipline. Scale: identical to W18-W20's daily
    // frame; K widens columns, never rows.
    "a40_acf" -> ((s, d) => {
      val K = 5
      val daily = dailyMean(Tables.events(s, d), "px")
      val wT = Window.partitionBy("event_type").orderBy("day")
      val lagged = (1 to K).foldLeft(daily)((df, j) =>
        df.withColumn(s"l$j", lag(col("px"), j).over(wT)))
      lagged.select(col("event_type"), col("px"),
          expr(s"stack($K, ${(1 to K).map(j => s"$j, l$j").mkString(", ")})")
            .as(Seq("lag_k", "prev")))
        .filter(col("prev").isNotNull)
        .groupBy(col("event_type"), col("lag_k"))
        .agg(r6(corrSafe(col("px"), col("prev"))).as("acf"),
          count(lit(1)).as("n"))
        .orderBy("event_type", "lag_k")
    }),

    // A69: 5%-trimmed mean per event type — the robust location
    // estimate between the mean (efficient, outlier-fragile) and
    // A25's median/MAD (robust, inefficient): drop the k lowest and
    // k highest observations and average the rest. k comes from
    // INTEGER arithmetic (k = n div 20), and the trim is by EXACT
    // rank with an event_id tiebreak — no interpolated percentile
    // cutoffs (DS15's ulp lesson: a float threshold compare can flip
    // one row between engines; an integer rank cannot). Kept sums go
    // through the decimal discipline. One per-type window + one hash
    // agg; the per-type window partitions evenly at scale. Fully
    // oracle-checked.
    "a69_trimmed_mean" -> ((s, d) => {
      val wRank = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      val wAll = Window.partitionBy("event_type")
      Tables.events(s, d)
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("k", expr("div(n, 20)"))
        .filter(col("rn") > col("k") && col("rn") <= col("n") - col("k"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_total"), count(lit(1)).as("n_kept"),
          r6(pinnedMean(col("value"))).as("trimmed_mean"))
        .orderBy("event_type")
    }),

    // A67: Jarque–Bera normality test per event type — the moment
    // test every parametric pipeline should run before trusting
    // t/ANOVA machinery: JB = n/6·(S² + (K−3)²/4) from skewness and
    // kurtosis. ONE hash agg computes the four power sums through the
    // decimal discipline (xᵏ multiplied in IEEE double — identical on
    // identical inputs — then decimal-summed, so accumulation order
    // cannot drift); central moments, S, K, JB and even the p-value
    // are then fixed double expression trees: χ²₂'s survival is the
    // CLOSED FORM exp(−x/2), so the whole test — p included — is
    // fully oracle-checked, no quadrature kernel needed.
    "a67_jarque_bera" -> ((s, d) => {
      shapeMoments(s, d, "skew", "kurt")
        .withColumn("jb",
          col("n").cast("double") / 6.0d *
            (col("skew") * col("skew") +
             (col("kurt") - 3.0d) * (col("kurt") - 3.0d) / 4.0d))
        .select(col("event_type"), col("n"),
          r6(col("skew")).as("skewness"),
          r6(col("kurt")).as("kurtosis"),
          r6(col("jb")).as("jb_stat"),
          r6(exp(-col("jb") / 2.0d)).as("p_value"))
        .orderBy("event_type")
    }),

    // A120: D'Agostino K² omnibus normality test (scipy's normaltest:
    // D'Agostino 1970 skewness z + Anscombe–Glynn 1983 kurtosis z) —
    // the FINITE-n companion to A67: JB's χ²₂ approximation is an
    // asymptotic result, while K² standardizes √b1 and b2 with their
    // exact small-sample null moments first, so the two disagree
    // exactly on the per-group slices a real pipeline tests. Same
    // one-pass pinned power sums as A67; every transform after is a
    // fixed closed-form IEEE chain on identical doubles, so the whole
    // test — both z's and the χ²₂ closed-form p = exp(−K²/2) — is
    // fully oracle-checked, no quadrature kernel. Zero variance ⇒
    // NULL block (the ratchet guard); the one data-dependent zero
    // (the kurtosis transform's 1 + x·√(2/(A−4)) denominator) is
    // guarded ⇒ NULL, mirrored in the oracle.
    "a120_dagostino_k2" -> ((s, d) => {
      val nd = col("nd")
      val withMoments = shapeMoments(s, d, "g1", "b2")
        // D'Agostino skewness transform. The z chain is gated on
        // n >= 8 (scipy normaltest's documented minimum): n = 7 makes
        // beta2 = 3 exactly so both sqrt(2/(w2-1)) and 1/sqrt(ln√w2)
        // divide by zero; n <= 3 hits the (n-2)/(n-3) divisors; and
        // 4 <= n <= 6 gives w2 < 1 where Spark would NaN but DuckDB
        // errors on sqrt of a negative. Gating the chain roots (y,
        // beta2, xx, sb1) NULLs z/k2/p by propagation; raw skewness
        // and kurtosis stay reported for any n with m2 > 0.
        .withColumn("y", when(nd >= 8, col("g1") *
          sqrt((nd + 1) * (nd + 3) / (lit(6.0d) * (nd - 2)))))
        .withColumn("beta2", when(nd >= 8, lit(3.0d) *
          (nd * nd + lit(27.0d) * nd - 70) * (nd + 1) * (nd + 3) /
          ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))))
        .withColumn("w2", sqrt(lit(2.0d) * (col("beta2") - 1)) - 1)
        .withColumn("dlt", lit(1.0d) / sqrt(log(sqrt(col("w2")))))
        .withColumn("alpha", sqrt(lit(2.0d) / (col("w2") - 1)))
        .withColumn("z1", col("dlt") *
          log(col("y") / col("alpha") +
            sqrt(col("y") / col("alpha") * (col("y") / col("alpha")) + 1)))
        // Anscombe–Glynn kurtosis transform
        .withColumn("eb2", lit(3.0d) * (nd - 1) / (nd + 1))
        .withColumn("vb2", lit(24.0d) * nd * (nd - 2) * (nd - 3) /
          ((nd + 1) * (nd + 1) * (nd + 3) * (nd + 5)))
        .withColumn("xx", when(nd >= 8,
          (col("b2") - col("eb2")) / sqrt(col("vb2"))))
        .withColumn("sb1", when(nd >= 8, lit(6.0d) *
          (nd * nd - lit(5.0d) * nd + 2) / ((nd + 3) * (nd + 5)) *
          sqrt(lit(6.0d) * (nd + 3) * (nd + 5) /
            (nd * (nd - 2) * (nd - 3)))))
        .withColumn("aa", lit(6.0d) + lit(8.0d) / col("sb1") *
          (lit(2.0d) / col("sb1") +
            sqrt(lit(1.0d) + lit(4.0d) / (col("sb1") * col("sb1")))))
        .withColumn("dnm",
          lit(1.0d) + col("xx") * sqrt(lit(2.0d) / (col("aa") - 4)))
        .withColumn("z2", when(col("dnm") =!= 0.0,
          ((lit(1.0d) - lit(2.0d) / (lit(9.0d) * col("aa"))) -
            cbrt((lit(1.0d) - lit(2.0d) / col("aa")) / col("dnm"))) /
            sqrt(lit(2.0d) / (lit(9.0d) * col("aa")))))
        .withColumn("k2", col("z1") * col("z1") + col("z2") * col("z2"))
      withMoments.select(col("event_type"), col("n"),
          r6(col("g1")).as("skewness"),
          r6(col("b2")).as("kurtosis"),
          r6(col("z1")).as("z_skew"),
          r6(col("z2")).as("z_kurt"),
          r6(col("k2")).as("k2_stat"),
          r6(exp(-col("k2") / 2.0d)).as("p_value"))
        .orderBy("event_type")
    }),

    // A121: Lilliefors normality test — the FITTED-parameter KS that
    // A33's two-sample machinery cannot express: D compares each
    // type's daily-mean ECDF against the normal fitted to the same
    // sample (μ̂, sample σ̂), the correction that invalidates plain KS
    // critical values. Φ evaluates through the PinnedSeries erfc
    // chain (pure polynomial — bit-identical cross-engine), the
    // moments through decimal-pinned sums, so D ships as a RAW
    // double, fully hash-checked; p is the published
    // Dallal–Wilkinson (1986) closed form with the Stephens (1974)
    // polynomial fallback past its p > 0.1 validity range (the
    // R nortest::lillie.test construction), 6-dp for its exp/pow,
    // clamped to [0, 1]. The p formula SELECTION (pdw ≤ 0.1) is the
    // published algorithm's own gate and necessarily compares a
    // transcendental: if pdw ever landed within a libm ulp of 0.1
    // the engines could pick different formulas — the same
    // measure-zero boundary class as every r6 rounding tie, accepted
    // and noted here because unlike a rounding tie the divergence
    // would exceed one grid step. Degenerate corpora (zero variance,
    // n < 4) drop the group, never throw (the empty-ratchet
    // contract).
    // Scale: one corpus-sized daily hash agg; ranking and the erfc
    // chain run on the O(types × days) frame.
    "a121_lilliefors" -> ((s, d) => {
      val daily = dailyMean(Tables.events(s, d), "v")
      val fit = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("v")).as("s1"),
          dsum(col("v") * col("v")).as("s2"))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("mu", col("s1") / col("nd"))
        .withColumn("vr",
          (col("s2") - col("s1") * col("s1") / col("nd")) /
            (col("nd") - lit(1.0)))
        .withColumn("sd", when(col("vr") > 0, sqrt(col("vr"))))
        .select(col("event_type"), col("n"), col("nd"), col("mu"),
          col("sd"))
      val wRank = Window.partitionBy("event_type").orderBy("v", "day")
      val rows = daily.join(broadcast(fit), Seq("event_type"))
        .filter(col("sd").isNotNull && col("n") >= 4)
        .withColumn("z", (col("v") - col("mu")) / col("sd"))
        .withColumn("ec",
          PinnedSeries.erfcCol(abs(col("z")) / sqrt(lit(2.0))))
        .withColumn("phi",
          when(col("z") >= 0, lit(1.0) - lit(0.5) * col("ec"))
            .otherwise(lit(0.5) * col("ec")))
        .withColumn("rn", row_number().over(wRank).cast("double"))
        .withColumn("drow", greatest(
          col("rn") / col("nd") - col("phi"),
          col("phi") - (col("rn") - lit(1.0)) / col("nd")))
      // d_stat is 6-dp: the decimal(30,12) pin on v² leaves one ulp
      // of cross-engine noise at |v²| ≳ 1e4 (the scale-vs-magnitude
      // hazard), so the raw sup is not bit-stable; the p chain feeds
      // on the ROUNDED d (the a41 discipline) so it stays replayable
      rows.groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("nd")).as("nd"),
          r6(max(col("drow"))).as("d_stat"))
        .withColumn("kd", when(col("n") > 100,
            col("d_stat") * pow(col("nd") / lit(100.0), lit(0.49)))
          .otherwise(col("d_stat")))
        .withColumn("ndd",
          when(col("n") > 100, lit(100.0)).otherwise(col("nd")))
        .withColumn("pdw", exp(
          lit(-7.01256) * (col("kd") * col("kd")) *
            (col("ndd") + lit(2.78019)) +
            lit(2.99587) * col("kd") * sqrt(col("ndd") + lit(2.78019)) -
            lit(0.122119) + lit(0.974598) / sqrt(col("ndd")) +
            lit(1.67997) / col("ndd")))
        .withColumn("kk",
          (sqrt(col("nd")) - lit(0.01) + lit(0.85) / sqrt(col("nd"))) *
            col("d_stat"))
        .withColumn("k2", col("kk") * col("kk"))
        .withColumn("k3", col("k2") * col("kk"))
        .withColumn("k4", col("k3") * col("kk"))
        .withColumn("p_raw",
          when(col("pdw") <= lit(0.1), col("pdw"))
            .when(col("kk") <= lit(0.302), lit(1.0))
            .when(col("kk") <= lit(0.5),
              lit(2.76773) - lit(19.828315) * col("kk") +
                lit(80.709644) * col("k2") - lit(138.55152) * col("k3") +
                lit(81.218052) * col("k4"))
            .when(col("kk") <= lit(0.9),
              lit(-4.901232) + lit(40.662806) * col("kk") -
                lit(97.490286) * col("k2") + lit(94.029866) * col("k3") -
                lit(32.355711) * col("k4"))
            .when(col("kk") <= lit(1.31),
              lit(6.198765) - lit(19.558097) * col("kk") +
                lit(23.186922) * col("k2") - lit(12.234627) * col("k3") +
                lit(2.423045) * col("k4"))
            .otherwise(lit(0.0)))
        .select(col("event_type"), col("n"), col("d_stat"),
          r6(least(lit(1.0), greatest(lit(0.0), col("p_raw"))))
            .as("p_value"))
        .orderBy("event_type")
    }),

    // A68: Ljung–Box portmanteau test per event type — "is there ANY
    // serial dependence in the first 4 lags": Q = n(n+2)·Σ ρ²ₖ/(n−k)
    // over A40's per-lag autocorrelations (documented variant: ρₖ is
    // the per-lag Pearson over available pairs, A40's definition,
    // rounded to 6dp FIRST so both engines square identical values —
    // corr's last ulp may differ, everything after it must not). Four
    // lags → χ²₄, whose survival is the closed form
    // exp(−x/2)·(1 + x/2) — p-value fully oracle-checked like A67.
    // The per-type terms pivot into FIXED columns (t1..t4) so the
    // final sum has one deterministic association order.
    "a68_ljung_box" -> ((s, d) => {
      val K = 4
      val daily = dailyMean(Tables.events(s, d), "px")
      val wT = Window.partitionBy("event_type").orderBy("day")
      val lagged = (1 to K).foldLeft(daily)((df, j) =>
        df.withColumn(s"l$j", lag(col("px"), j).over(wT)))
      val rho = lagged.select(col("event_type"), col("px"),
          expr(s"stack($K, ${(1 to K).map(j => s"$j, l$j").mkString(", ")})")
            .as(Seq("lag_k", "prev")))
        .filter(col("prev").isNotNull)
        .groupBy(col("event_type"), col("lag_k"))
        .agg(round(corrSafe(col("px"), col("prev")), 6).as("rho"))
      val nD = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      rho.join(nD, Seq("event_type"))
        .withColumn("term", col("rho") * col("rho") /
          (col("n") - col("lag_k")).cast("double"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_days"),
          (1 to K).map(j =>
            max(when(col("lag_k") === j, col("term"))).as(s"t$j")): _*)
        .withColumn("q",
          col("n_days").cast("double") * (col("n_days") + 2) *
            (col("t1") + col("t2") + col("t3") + col("t4")))
        .select(col("event_type"), col("n_days"),
          r6(col("q")).as("q_stat"),
          r6(exp(-col("q") / 2.0d) * (lit(1.0d) + col("q") / 2.0d))
            .as("p_value"))
        .orderBy("event_type")
    }),

    // A41: χ² test of independence — is event_type distributed
    // independently of day-of-week? The categorical association test
    // beside A29's goodness-of-fit (fixed expected law) — here the
    // expected counts come from the MARGINS (row_total × col_total /
    // N). Per-cell output (obs, expected, term) is fully
    // oracle-checkable like A29; the grid completes missing cells
    // via a margins cross join (5×7 rows — broadcast-trivial) so a
    // zero-observation cell still contributes its expected mass.
    // All inputs are exact integer counts (<2^53 — products exact in
    // double), so only the final division chain needs round6.
    "a41_chi2_independence" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_type"), dayofweek(col("ts")).as("dow"))
      val obs = base.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"))
      val rowT = obs.groupBy("event_type").agg(sum(col("n")).as("rt"))
      val colT = obs.groupBy("dow").agg(sum(col("n")).as("ct"))
      val tot = obs.agg(sum(col("n")).as("t"))
      rowT.crossJoin(colT)
        .join(obs, Seq("event_type", "dow"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(tot))
        .withColumn("expected",
          col("rt").cast("double") * col("ct") / col("t"))
        .withColumn("term",
          (col("n").cast("double") - col("expected")) *
            (col("n").cast("double") - col("expected")) / col("expected"))
        .select(col("event_type"), col("dow"), col("n"),
          r6(col("expected")).as("expected"), r6(col("term")).as("term"))
        .orderBy("event_type", "dow")
    }),

    // A42: weekly seasonality index — mean daily volume per day-of-
    // week over the grand daily mean (index 1.0 = flat week): the
    // decomposition behind every "weekend dip" chart, and the
    // categorical-seasonality complement to A40's lag view of the
    // same series. Two tiny aggregates over the daily frame; the
    // grand mean broadcasts as one row. Decimal-pinned sums at both
    // levels (daily, then across ≤31 daily values) so accumulation
    // order never moves the doubles; round6 absorbs the division.
    "a42_weekly_seasonality" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(pinnedMean(col("value")).as("v"))
      def dmean(c: Column) =
        sum(c.cast("decimal(30,12)")).cast("double") / count(lit(1))
      val byDow = daily
        .groupBy(dayofweek(col("day")).as("dow"))
        .agg(dmean(col("v")).as("dow_mean"), count(lit(1)).as("n_days"))
      val overall = daily.agg(dmean(col("v")).as("grand_mean"))
      byDow.crossJoin(broadcast(overall))
        .select(col("dow"), col("n_days"), r6(col("dow_mean")).as("dow_mean"),
          r6(col("dow_mean") / col("grand_mean")).as("seasonal_index"))
        .orderBy("dow")
    }),

    // A43: Spearman rank correlation — A2's monotone-association
    // robust sibling: Pearson over MIDRANKS, exact under ties (the
    // A35 discipline: midrank = rank + (t−1)/2, an exactly-
    // representable half-integer, so the rank transform is
    // order-insensitive by construction; corr at round6 is the
    // proven A2 cross-engine bar). Two ranking windows per type +
    // one grouped corr — ranks partition by event_type, so the
    // shuffle is the same even per-entity spread as every window
    // here; no global sort.
    "a43_spearman" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_type"), col("value"),
          get_json_object(col("props"), "$.k").cast("double").as("k"))
        .filter(col("value").isNotNull && col("k").isNotNull)
      // tie count via a RANGE frame on the SAME (partition, order)
      // spec as the rank — rows at the current ORDER value — instead
      // of a count over partitionBy(event_type, name): identical
      // integer (all rows sharing this name-value), but both window
      // functions now share one Window operator, so the plan runs 2
      // Exchange+Sort pairs instead of 4 (round 15, guide §2.4;
      // before/after: `git show e08ff19:plans/r15/`).
      def midrank(name: String) =
        rank().over(Window.partitionBy("event_type").orderBy(col(name)))
          .cast("double") +
          (count(lit(1)).over(Window.partitionBy("event_type")
            .orderBy(col(name)).rangeBetween(0, 0))
            .cast("double") - 1) / 2
      val ranked = base
        .withColumn("rv", midrank("value"))
        .withColumn("rk", midrank("k"))
      ranked.groupBy("event_type")
        .agg(r6(corrSafe(col("rv"), col("rk"))).as("rho"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // A44: Cramér's V — the EFFECT-SIZE companion to A41's χ²
    // significance (at 60k rows even a trivial association is
    // "significant"; V ∈ [0,1] says whether it matters). Fully
    // oracle-checked, unlike the p twin: the χ² here is the sum of
    // A41's ROUNDED terms through DECIMAL — exact at 1e-6 grain and
    // order-insensitive, so both engines sum identically without a
    // pinned fold. V = sqrt(χ² / (N·min(R−1, C−1))).
    "a44_cramers_v" -> ((s, d) =>
      queries("a41_chi2_independence")(s, d)
        .agg(
          sum(col("term").cast("decimal(24,10)")).cast("double").as("chi2"),
          sum(col("n")).as("n_total"),
          countDistinct(col("event_type")).as("r"),
          countDistinct(col("dow")).as("c"))
        .select(r6(col("chi2")).as("chi2"), col("n_total"),
          r6(sqrt(col("chi2") / (col("n_total") *
            least(col("r") - 1, col("c") - 1)))).as("cramers_v"))),

    // A45: two-proportion z-test — the A/B-test primitive (pooled
    // standard error): does the share of high-value events differ
    // between clicks and purchases? Everything is integer counts
    // (<2^53 — exact in double) until one division/sqrt chain, so z
    // is raw-arithmetic identical on both engines; round6 absorbs
    // the libm sqrt ulp. One map-side-combinable aggregate over the
    // filtered slice; no shuffle beyond the 1-row agg.
    "a45_two_proportion_z" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select((col("event_type") === "click").as("g1"),
          (col("value") > 50).as("hit"))
      ev.agg(
          sum(when(col("g1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("g1") && col("hit"), 1L).otherwise(0L)).as("x1"),
          sum(when(!col("g1"), 1L).otherwise(0L)).as("n2"),
          sum(when(!col("g1") && col("hit"), 1L).otherwise(0L)).as("x2"))
        // degenerate arms (empty group; all-hit or no-hit pooled
        // proportion) make z undefined -> NULL (ANSI /0 guard;
        // StatsDegenerateSpec ratchet)
        .withColumn("p1",
          when(col("n1") > 0, col("x1").cast("double") / col("n1")))
        .withColumn("p2",
          when(col("n2") > 0, col("x2").cast("double") / col("n2")))
        .withColumn("pp",
          when(col("n1") + col("n2") > 0,
            (col("x1") + col("x2")).cast("double") /
              (col("n1") + col("n2"))))
        .select(col("n1"), col("x1"), col("n2"), col("x2"),
          r6(col("p1")).as("p1"), r6(col("p2")).as("p2"),
          when(col("n1") > 0 && col("n2") > 0 &&
               col("pp") > 0 && col("pp") < 1,
            r6((col("p1") - col("p2")) /
              sqrt(col("pp") * (lit(1.0) - col("pp")) *
                (lit(1.0) / col("n1") + lit(1.0) / col("n2"))))).as("z"))
    }),

    // A70: power analysis / required sample size — the question every
    // experiment DESIGN starts with, computed from A45's OBSERVED
    // proportions treated as the planning effect: n per arm =
    // (z_{α/2} + z_β)² · (p₁(1−p₁) + p₂(1−p₂)) / (p₁−p₂)² for 5%
    // two-sided α / 80% power (z constants 1.959964, 0.841621 — the
    // same published-literal discipline as the EWMA weights), plus
    // the MDE the CURRENT sample could detect at that power (the
    // inverse reading: solve the same identity for |p₁−p₂| at
    // n = min(n₁,n₂)). Pure closed-form double arithmetic over the
    // exact integer counts → fully oracle-checked; one 1-row agg.
    "a70_power_analysis" -> ((s, d) => {
      val zA = 1.959964; val zB = 0.841621
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select((col("event_type") === "click").as("g1"),
          (col("value") > 50).as("hit"))
      val base = ev.agg(
          sum(when(col("g1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("g1") && col("hit"), 1L).otherwise(0L)).as("x1"),
          sum(when(!col("g1"), 1L).otherwise(0L)).as("n2"),
          sum(when(!col("g1") && col("hit"), 1L).otherwise(0L)).as("x2"))
        // degenerate designs (empty arm; identical observed
        // proportions -> no effect to power against) -> NULLs (ANSI
        // /0 guard; StatsDegenerateSpec ratchet)
        .withColumn("p1",
          when(col("n1") > 0, col("x1").cast("double") / col("n1")))
        .withColumn("p2",
          when(col("n2") > 0, col("x2").cast("double") / col("n2")))
      val varSum = col("p1") * (lit(1.0) - col("p1")) +
        col("p2") * (lit(1.0) - col("p2"))
      val zz = lit((zA + zB) * (zA + zB))
      base
        .withColumn("n_required",
          when(col("p1") =!= col("p2"),
            ceil(zz * varSum /
              ((col("p1") - col("p2")) * (col("p1") - col("p2")))))
            .cast("long"))
        .withColumn("mde",
          when(least(col("n1"), col("n2")) > 0,
            sqrt(zz * varSum / least(col("n1"), col("n2")))))
        .select(col("n1"), col("n2"),
          r6(col("p1")).as("p1"), r6(col("p2")).as("p2"),
          col("n_required"), r6(col("mde")).as("mde"),
          (least(col("n1"), col("n2")) >= col("n_required"))
            .as("powered"))
    }),

    // A71: Population Stability Index — THE production drift monitor
    // (credit-risk/ML-ops standard): how far has each series' value
    // distribution moved between the first and second half of the
    // month? Ten FIXED-WIDTH bins over the global [min, max] (exact
    // double endpoints both engines read identically — no quantile
    // cuts, the DS15 ulp lesson), Laplace-smoothed proportions
    // (cnt+1)/(n+10) so empty bins stay finite (and the zero-guard is
    // arithmetic, not a CASE), psi = Σ(p_b − p_a)·ln(p_b/p_a) with
    // each bin term rounded THEN decimal-summed (the A48 discipline:
    // the fold order can't move the scalar) over a complete
    // type × bin spine (a bin empty in BOTH periods still
    // contributes its smoothing term — the spine makes that
    // deterministic rather than row-absence-dependent). Scale: one
    // corpus pass into a (type, bin) hash agg (conditional counts —
    // both periods in ONE pass, map-side combinable); everything
    // after runs on ≤ |types|·10 rows. Fully oracle-checked.
    // Interpretation bands (industry convention): <0.10 stable,
    // 0.10–0.25 moderate shift, >0.25 action.
    "a71_psi_drift" -> ((s, d) => {
      driftBins(s, d)
        .withColumn("term",
          round((col("pb") - col("pa")) * log(col("pb") / col("pa")), 6))
        .groupBy(col("event_type"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          round(sum(col("term").cast("decimal(24,10)")).cast("double"), 6)
            .as("psi"))
        .orderBy("event_type")
    }),

    // A72: ROC AUC — THE binary-ranking evaluation metric (every
    // model-quality dashboard reports it). Does `value` rank the
    // payload label k ≥ 50 (the F5-proven JSON path) above k < 50,
    // per series? AUC = P(score⁺ > score⁻) + ½P(tie), computed by
    // the rank-free bin decomposition: 1000 fixed-width score bins
    // on the exact global [min, max] (a71's binning — no quantile
    // cuts), per bin positive/negative counts, then
    // num2 = Σ_b pos_b·(2·negBelow_b + neg_b) and
    // auc = num2 / (2·P·N) — scores in one bin count as ties, so
    // the statistic is the EXACT tie-corrected Mann–Whitney AUC of
    // the discretized scores. Everything is integer until the single
    // final division (num2 ≤ 2N² < 2⁶³; 2·P·N < 2⁵³ as double), so
    // the RAW double hash-matches (the W24 discipline — no round).
    // Scale: one corpus pass → (type, bin) hash agg (map-side
    // combinable); the cumulative window runs on ≤ 1000 rows per
    // series partition. No global sort, no per-row ranks — the
    // shape survives 100 TB where a rank-window AUC would not.
    "a72_roc_auc" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("value"),
          (get_json_object(col("props"), "$.k").cast("long") >= 50)
            .as("pos"))
      val counts = valueBins(ev, 1000)._1
        .groupBy(col("event_type"), col("bin"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
      counts
        .withColumn("below", coalesce(sum(col("n")).over(w), lit(0L)))
        .groupBy(col("event_type"))
        .agg(sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg"),
          sum(col("p") * (lit(2L) * col("below") + col("n"))).as("num2"))
        .select(col("event_type"), col("n_pos"), col("n_neg"),
          // one class absent -> AUC undefined -> NULL (ANSI /0 guard;
          // spec: StatsDegenerateSpec)
          when(col("n_pos") > 0 && col("n_neg") > 0,
            col("num2").cast("double") /
              (lit(2.0d) * col("n_pos") * col("n_neg"))).as("auc"))
        .orderBy("event_type")
    }),

    // A73: Kruskal–Wallis H — the k-group rank test (A35's
    // Mann–Whitney generalized the way A52 generalizes the t-test):
    // do the five series' value DISTRIBUTIONS differ, without A52's
    // normality assumption? The scale problem is global midranks —
    // a rank window would put the corpus on one partition. Solved by
    // the two-level decomposition A33's bucketed ECDF proved out:
    // ranks only depend on the DISTINCT-value frame (domain-bounded:
    // 2-decimal values), and rank(v) = cumBelow(bucket) + cumWithin
    // (bucket, v) with 1000 fixed-width buckets — the global window
    // runs on ≤ 1001 bucket rows, the per-value windows partition by
    // bucket. Midranks kept as 2× integers (r2 = 2·below + cnt + 1),
    // per-group rank sums Σ c_gv·r2 exact longs, H folded in
    // event_type order over the K-row frame (A52's discipline), tie
    // correction Σ(t³−t)/(N³−N) exact-integer-into-double. Fully
    // oracle-checked; the χ²_{k−1} p twin is rows-only,
    // StatsSpec-anchored (with a planted-tie sequential recompute).
    "a73_kruskal_wallis" -> ((s, d) => {
      val (g, ties) = kwGroupRanks(s, d)
      g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
          array_sort(collect_list(struct(col("event_type"), col("n_g"),
            col("rs2")))).as("gs"))
        .crossJoin(broadcast(ties))
        // Σ_g R_g²/n_g with R_g = rs2/2 kept exact: rs2²/(4·n_g)
        .withColumn("s", fold(x =>
          x.getField("rs2").cast("double") * x.getField("rs2") /
            (lit(4.0d) * x.getField("n_g"))))
        .withColumn("h",
          lit(12.0d) / (col("n") * (col("n") + 1)).cast("double") *
            col("s") - lit(3.0d) * (col("n") + 1))
        // every observation identical -> t3 = n^3 - n -> corr_c = 0
        // (and n <= 1 zeroes the t3 denominator): the tie-corrected H
        // is undefined -> NULL (ANSI /0 guard; spec:
        // StatsDegenerateSpec)
        .withColumn("corr_c",
          when(col("n") > 1,
            lit(1.0d) - col("t3").cast("double") /
              (col("n").cast("double") * col("n") * col("n") - col("n"))))
        .select(col("k"), col("n"), r6(col("h")).as("h"),
          when(col("corr_c") =!= 0.0d, r6(col("h") / col("corr_c")))
            .as("h_tied"))
    }),

    // A73 p twin — upper-tail χ²_{k−1} of the tie-corrected H via the
    // PinnedSeries exact finite survival series on the main query's
    // hash-checked 6-dp h_tied; the one exp(−y) costs libm ulps →
    // 6-dp output (the a68/a120 discipline). Fully hash-checked
    // (flipped from rows-only in round 14).
    "a73_kw_pvalue" -> ((s, d) =>
      queries("a73_kruskal_wallis")(s, d)
        .select(col("h_tied"), (col("k") - 1).cast("double").as("df"))
        .select(col("h_tied"), col("df"),
          r6(PinnedSeries.chiSqPCol(col("h_tied"), col("df")))
            .as("p_value"))),

    // A89: Dunn's post-hoc pairs — A88 for the NONPARAMETRIC branch
    // (after A73's Kruskal–Wallis rejects, which series pairs differ?
    // Dunn 1964 is the rank analogue of Tukey's table; running t-type
    // contrasts on ranks is the textbook mistake): zᵢⱼ = (R̄ᵢ−R̄ⱼ)/
    // √((N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/nᵢ+1/nⱼ)) with the
    // tie-corrected variance. Everything rides the SHARED two-level
    // exact-midrank decomposition (kwGroupRanks — the a73 frames):
    // rank sums and the tie term are exact integers, mean ranks one
    // IEEE division each, the variance chain fixed-order — RAW
    // doubles, bit-identical. The pair join is the k-row frame
    // against itself. Fully oracle-checked.
    "a89_dunn_pairs" -> ((s, d) => {
      val (g, ties) = kwGroupRanks(s, d)
      val wAll = Window.partitionBy()
      val gm = g.crossJoin(broadcast(ties))
        .withColumn("n", sum(col("n_g")).over(wAll))
        .withColumn("mean_rank",
          col("rs2").cast("double") / (lit(2.0d) * col("n_g")))
        // fully-tied corpus: t3 = n^3 - n zeroes v (and n <= 1
        // zeroes its own denominator) -> z NULL (ANSI /0 guard;
        // ratchet spec)
        .withColumn("v",
          when(col("n") > 1,
            (col("n") * (col("n") + 1)).cast("double") / 12 -
              col("t3").cast("double") / (lit(12.0d) * (col("n") - 1))))
      val a = gm.select(col("event_type").as("type_a"),
        col("n_g").as("n_a"), col("mean_rank").as("mean_rank_a"),
        col("v"))
      val b = gm.select(col("event_type").as("type_b"),
        col("n_g").as("n_b"), col("mean_rank").as("mean_rank_b"))
      a.join(broadcast(b), col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("mean_rank_a"), col("mean_rank_b"),
          when(col("v") > 0,
            (col("mean_rank_a") - col("mean_rank_b")) /
              sqrt(col("v") * (lit(1.0d) / col("n_a") +
                lit(1.0d) / col("n_b")))).as("z"))
        .orderBy("type_a", "type_b")
    }),

    // A89 p twin: two-sided p per pair via the PinnedSeries erfc chain
    // on the main query's hash-checked raw z, plus the Bonferroni
    // m = k(k−1)/2 family adjustment Dunn prescribed (exact IEEE
    // multiply + least). Pure-IEEE chain → bit-identical raw doubles,
    // fully hash-checked (flipped from rows-only in round 14).
    "a89_dunn_pvalue" -> ((s, d) => {
      // m from a lazy full-frame window, never a driver-side count()
      // at plan-construction time (the a53 eager-head lesson)
      val m = count(lit(1)).over(Window.partitionBy()).cast("double")
      val p = PinnedSeries.normalTwoSidedCol(col("z"))
      queries("a89_dunn_pairs")(s, d)
        .select(col("type_a"), col("type_b"), col("z"),
          p.as("p_value"),
          least(lit(1.0d), p * m).as("p_bonferroni"))
        .orderBy("type_a", "type_b")
    }),

    // A79: binned Wasserstein-1 drift — the metric that fixes what
    // PSI (A71) and KS (A33) each miss: PSI is bin-mass-only (blind
    // to HOW FAR mass moved), KS is the single worst point; W₁ =
    // ∫|CDF_a − CDF_b| integrates displacement × distance, in the
    // value's own units. First-half vs second-half per series over
    // 200 fixed-width bins on the exact global range (A71's binning
    // and spine — a bin empty in both halves still contributes its
    // CDF-gap term), cumulative counts via per-series bin windows
    // (≤200 rows), |ΔCDF| on a 1e-12 grid then decimal-summed
    // (TXT20's discipline), × the exact bin width once at the end.
    // One corpus pass into a conditional (type, bin) hash agg.
    // Fully oracle-checked.
    "a79_wasserstein" -> ((s, d) => {
      val (counts, spine, rng) = periodBins(s, d, 200)
      val wc = Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wt = Window.partitionBy("event_type")
      spine
        .join(counts, Seq("event_type", "bin"), "left")
        .na.fill(0L, Seq("ca", "cb"))
        .withColumn("na", sum(col("ca")).over(wt))
        .withColumn("nb", sum(col("cb")).over(wt))
        .withColumn("cuma", sum(col("ca")).over(wc))
        .withColumn("cumb", sum(col("cb")).over(wc))
        .withColumn("term", round(abs(
          col("cuma").cast("double") / col("na") -
          col("cumb").cast("double") / col("nb")), 12))
        .groupBy(col("event_type"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          sum(col("term").cast("decimal(24,14)")).cast("double")
            .as("gap"))
        .crossJoin(broadcast(rng))
        .select(col("event_type"), col("n_a"), col("n_b"),
          r6(col("gap") * ((col("vmax") - col("vmin")) / 200))
            .as("w1"))
        .orderBy("event_type")
    }),

    // A80: seasonal-naive forecast backtest (MASE — Hyndman &
    // Koehler 2006): the scale-free "is this forecastable beyond
    // persistence?" score every forecasting bake-off reports. Model
    // = seasonal-naive (the value 7 days ago — A42 established the
    // weekly cycle), benchmark = 1-day persistence; MASE =
    // MAE_model / MAE_naive < 1 ⇔ the weekly pattern beats
    // yesterday's value. Two lag columns over ONE per-series daily
    // window (shared exchange), both absolute errors are elementwise
    // IEEE on identical daily means, MAEs decimal-pinned, one final
    // division. Evaluation restricted to days where BOTH lags exist
    // (same frame both engines). Fully oracle-checked.
    "a80_mase" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      dailyMean(Tables.events(s, d), "v")
        .withColumn("l7", lag(col("v"), 7).over(wd))
        .withColumn("l1", lag(col("v"), 1).over(wd))
        .filter(col("l7").isNotNull && col("l1").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_eval"),
          (sum(abs(col("v") - col("l7")).cast("decimal(30,12)"))
            .cast("double") / count(lit(1))).as("mae_model"),
          (sum(abs(col("v") - col("l1")).cast("decimal(30,12)"))
            .cast("double") / count(lit(1))).as("mae_naive"))
        .select(col("event_type"), col("n_eval"),
          r6(col("mae_model")).as("mae_model"),
          r6(col("mae_naive")).as("mae_naive"),
          r6(col("mae_model") / col("mae_naive")).as("mase"))
        .orderBy("event_type")
    }),

    // A81: Durbin–Watson — the residual-autocorrelation diagnostic
    // that tells you whether A34's OLS standard errors can be trusted
    // at all (DW ≈ 2(1−ρ₁); A64 then REPAIRS the se, this DETECTS the
    // need): per series, regress the daily mean on the day index and
    // test the residual sequence. The cross-engine discipline is
    // total pinning, not r6 roulette: every OLS sum is exact
    // (decimal-pinned y/xy products, pure-integer x moments), each
    // converts to double once (correctly rounded both engines), and
    // slope → intercept → per-day residual → DW is then one fixed-
    // order IEEE chain — bit-identical end to end, RAW output. The
    // residual-square pins use DECIMAL scale 8, NOT the house 12: e²
    // is an arbitrary full-tail double of magnitude ~1e2, so its
    // shortest-repr (Spark) and true-binary (DuckDB) expansions part
    // ways ~1e-15 absolute — against a 1e-12 rounding grid that's a
    // per-row tie chance of ~1e-3, and one sf0.001 row DID flip; at
    // scale 8 the margin is ~10⁵. Scale: one corpus pass to daily
    // means; all regression arithmetic lives on the date-bounded
    // frame (the a73 argument), one broadcast of the per-type
    // coefficients back onto it. Fully oracle-checked.
    "a81_durbin_watson" -> ((s, d) => {
      val dly = trendPanel(s, d)
      val co = trendFit(dly)
        .select(col("event_type"), col("n"), col("beta"), col("alpha"))
      val wd = Window.partitionBy("event_type").orderBy("day")
      dly.join(broadcast(co), Seq("event_type"))
        .withColumn("e", col("y") - (col("alpha") + col("beta") * col("x")))
        .withColumn("e_prev", lag(col("e"), 1).over(wd))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_days"), max(col("beta")).as("slope"),
          sum(((col("e") - col("e_prev")) * (col("e") - col("e_prev")))
            .cast("decimal(30,8)")).cast("double").as("num"),
          sum((col("e") * col("e")).cast("decimal(30,8)")).cast("double")
            .as("den"))
        // a perfect fit (flat panel) zeroes the residual SS -> DW
        // undefined -> NULL (ANSI /0 guard; ratchet spec)
        .select(col("event_type"), col("n_days"), col("slope"),
          when(col("den") > 0, col("num") / col("den")).as("dw"),
          when(col("den") > 0,
            lit(1.0d) - col("num") / col("den") / 2).as("rho1"))
        .orderBy("event_type")
    }),

    // A82: Dickey–Fuller unit-root test — "is this series actually
    // mean-reverting, or a random walk that only LOOKS trendy?" (the
    // stationarity gate in front of every A34/A40/A64 inference; the
    // companion to A51's Hurst exponent, as a t-test instead of a
    // scaling law): Δy_t = α + β·y_{t−1}, H₀: β = 0 (unit root),
    // t = β̂/se(β̂) compared against the Dickey–Fuller (NOT Student-t)
    // critical values — emitted as the literal −2.86/−3.43 5%/1%
    // asymptotic constant-case thresholds. Same total-pinning
    // discipline as A81: exact sums → one double render each → the
    // β/α/SSE/se/t chain is fixed-order IEEE, bit-identical, RAW.
    // One corpus pass to daily means; regression on the date-bounded
    // frame. Fully oracle-checked.
    "a82_dickey_fuller" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val dly = dailyMean(Tables.events(s, d), "y")
        .withColumn("xl", lag(col("y"), 1).over(wd))
        .filter(col("xl").isNotNull)
        .withColumn("dy", col("y") - col("xl"))
      val co = dly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("xl").cast("decimal(24,10)")).cast("double").as("sx"),
          sum(col("dy").cast("decimal(24,10)")).cast("double").as("sy"),
          sum((col("xl") * col("xl")).cast("decimal(28,8)")).cast("double")
            .as("sxx"),
          sum((col("xl") * col("dy")).cast("decimal(28,8)")).cast("double")
            .as("sxy"))
        // a CONSTANT regressor (flat series: y_{t-1} never moves)
        // zeroes the OLS denominator -> beta/alpha NULL and the rows
        // drop (no regression to diagnose; ANSI /0 guard; ratchet
        // spec)
        .withColumn("beta",
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))))
        .withColumn("alpha",
          (col("sy") - col("beta") * col("sx")) / col("n"))
        .filter(col("beta").isNotNull)
      dly.join(broadcast(co), Seq("event_type"))
        .withColumn("e",
          col("dy") - (col("alpha") + col("beta") * col("xl")))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_obs"), max(col("beta")).as("beta"),
          max(col("alpha")).as("alpha"),
          max(col("sx")).as("sx"), max(col("sxx")).as("sxx"),
          sum((col("e") * col("e")).cast("decimal(30,8)")).cast("double")
            .as("sse"))
        // a perfect fit (flat panel: sse = 0) or n <= 2 makes the
        // DF t undefined -> NULL (ANSI /0 guard; ratchet spec)
        .select(col("event_type"), col("n_obs"), col("beta"),
          when(col("sse") > 0 && col("n_obs") > 2,
            col("beta") /
              sqrt((col("sse") / (col("n_obs") - 2)) /
                (col("sxx") - col("sx") * col("sx") / col("n_obs"))))
            .as("t_stat"),
          (lit(1.0d) + col("beta")).as("rho"),
          lit(-2.86d).as("crit_5pct"), lit(-3.43d).as("crit_1pct"))
        .orderBy("event_type")
    }),

    // A83: Hodges–Lehmann location estimate — the robust "where is
    // this series centered" companion to A54's Theil–Sen slope (same
    // 1963 lineage, same pairwise trick): the median of all Walsh
    // averages (yᵢ+yⱼ)/2 over i ≤ j — 29% breakdown with near-normal
    // efficiency, where the plain median wastes efficiency and the
    // mean breaks at one outlier. Same scale shape as A54: the pair
    // self-join is bounded by the TIME dimension (C(n_days+1, 2) rows
    // per series however many billions of events fold into each daily
    // mean); Walsh averages are elementwise IEEE on identical pinned
    // means; both medians interpolate via the a17-proven percentile
    // (r6 absorbs the interpolation ulp — the a54 contract). Fully
    // oracle-checked.
    "a83_hodges_lehmann" -> ((s, d) => {
      val dly = dailyMean(Tables.events(s, d), "y")
      val a = dly.select(col("event_type"), col("day").as("d1"),
        col("y").as("y1"))
      val b = dly.select(col("event_type"), col("day").as("d2"),
        col("y").as("y2"))
      val walsh = a.join(b, Seq("event_type"))
        .filter(col("d1") <= col("d2"))
        .select(col("event_type"), ((col("y1") + col("y2")) / 2).as("w"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_walsh"),
          round(expr("percentile(w, 0.5)"), 6).as("hl"))
      dly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(expr("percentile(y, 0.5)"), 6).as("median"))
        .join(walsh, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("n_walsh"),
          col("median"), col("hl"))
        .orderBy("event_type")
    }),

    // A84: Grubbs outlier statistic — "is the most extreme day REAL?"
    // (the formal version of every ops dashboard's worst-day panel;
    // A25's MAD flags many, this scores THE one): G = max|y − ȳ|/s
    // over the daily means, reported with the offending day. The
    // pinning discipline makes the ARGMAX itself deterministic — ȳ
    // and s come from exact decimal sums (one double render each), so
    // every deviation is a bit-identical IEEE double on both engines
    // and the (dev desc, day) pick can't flip on a near-tie; G is one
    // raw division chain, no r6 roulette anywhere. One corpus pass to
    // daily means; everything after on the date-bounded frame. Fully
    // oracle-checked.
    // A116: Dixon's Q — the SMALL-SAMPLE gap-ratio outlier test
    // beside A84's z-based Grubbs (the lab-stats classic: on a
    // 30-point series a single wild value inflates Grubbs' own sd
    // denominator; Q reads only ORDER STATISTICS, immune to that
    // masking): Q_low = (x₍₂₎−x₍₁₎)/(x₍ₙ₎−x₍₁₎), Q_high the mirror,
    // over the pinned daily panel per type. The order statistics are
    // exact picks — row_number over (y, day) and its reverse on
    // bit-identical pinned means, so no near-tie can flip engines —
    // and each Q is ONE IEEE division of exact subtractions; the
    // verdict compares against Rorabacher's published r₁₀(0.05, 30)
    // = 0.260 critical value (the panel is 30 days at every SF; the
    // n_days column lets a reader re-look-up any other n). Zero-range
    // series drop by an exact comparison.
    "a116_dixon_q" -> ((s, d) => {
      val dly = dailyMean(Tables.events(s, d), "y")
      val asc = Window.partitionBy("event_type")
        .orderBy(col("y").asc, col("day").asc)
      val desc = Window.partitionBy("event_type")
        .orderBy(col("y").desc, col("day").desc)
      dly
        .withColumn("ra", row_number().over(asc))
        .withColumn("rd", row_number().over(desc))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          max(when(col("ra") === 1, col("y"))).as("x1"),
          max(when(col("ra") === 2, col("y"))).as("x2"),
          max(when(col("rd") === 2, col("y"))).as("xn1"),
          max(when(col("rd") === 1, col("y"))).as("xn"))
        .filter(col("xn") > col("x1"))
        .select(col("event_type"), col("n_days"), col("x1"), col("xn"),
          ((col("x2") - col("x1")) / (col("xn") - col("x1")))
            .as("q_low"),
          ((col("xn") - col("xn1")) / (col("xn") - col("x1")))
            .as("q_high"),
          // the 0.260 critical value IS r10(0.05, n=30) — on any
          // other panel length the boolean would be statistically
          // mislabeled, so the verdict is gated to n_days = 30 and
          // NULL otherwise (q_low/q_high still report; a reader
          // re-looks-up r10 for the emitted n_days)
          when(col("n_days") === 30,
            (col("x2") - col("x1")) / (col("xn") - col("x1")) >
              lit(0.260d)).as("low_outlier"),
          when(col("n_days") === 30,
            (col("xn") - col("xn1")) / (col("xn") - col("x1")) >
              lit(0.260d)).as("high_outlier"))
        .orderBy("event_type")
    }),

    // A117: two-way ANOVA with interaction — the FACTORIAL design
    // the family's endpoints stop short of (A52 one-way, A62 a 2×2
    // difference-in-differences): does the type effect, the
    // time-phase effect, and — the question only the two-way can ask
    // — their INTERACTION explain the daily panel? Factors: event
    // type × calendar phase (day-offset mod 3 over the 30
    // consecutive panel days → exactly 10 obs per cell, a BALANCED
    // a×3 design; under imbalance the same formulas remain the
    // weighted sequential decomposition, documented). Float
    // discipline: every level/cell mean is a render of an exact
    // decimal sum at the y≈50 magnitude (A84's pinning), each SS
    // term n·(mean−grand)² is one fixed IEEE chain r6'd into a
    // decimal-pinned order-free sum, SS_AB = SS_cells−SS_A−SS_B and
    // the three F ratios are fixed chains on those pinned scalars.
    // SS_E uses the per-cell computational form q − n·m² (identical
    // cancellation on identical doubles). One corpus pass to the
    // panel; every aggregate after runs on ≤a·3 rows.
    // A118: Chow structural-break F test — the REGIME question the
    // trend family stops short of (A34 fits one line, A49/A77 detect
    // WHEN a mean drifts; Chow asks whether the LINE ITSELF — level
    // and slope — changed at a known break): split the pinned daily
    // panel at mid-window (day offset 15 of the 30-day panel, the
    // documented fixed breakpoint), fit OLS on each segment and
    // pooled, F = ((SSR_p − SSR_1 − SSR_2)/k) / ((SSR_1 + SSR_2)/
    // (n − 2k)) with k = 2 (intercept + slope). Float discipline is
    // A85's verbatim: x-moments exact BIGINTs, y/xy/yy sums
    // decimal-pinned with one double render each, every SSR the same
    // fixed computational chain Syy_c − Sxy_c²/Sxx_c on those pinned
    // scalars, F one fixed chain — raw doubles, fully hash-checked.
    // Degenerate guards (ANSI): a flat panel (SSR₁+SSR₂ = 0), a
    // segment with < 3 days, or n ≤ 4 → NULL F.
    "a118_chow" -> ((s, d) => {
      val dly = trendPanel(s, d)
        .withColumn("seg", when(col("x") < 15, 1L).otherwise(2L))
      def sums = trendSums :+
        sum((col("y") * col("y")).cast("decimal(28,8)")).cast("double")
          .as("syy")
      def ssrOf(grouped: DataFrame): DataFrame = grouped
        .withColumn("sxxc",
          col("sxx").cast("double") -
            col("sx").cast("double") * col("sx") / col("n"))
        .withColumn("ssr",
          when(col("sxxc") > 0,
            col("syy") - col("sy") * col("sy") / col("n") -
              (col("sxy") - col("sx").cast("double") * col("sy") /
                col("n")) *
              (col("sxy") - col("sx").cast("double") * col("sy") /
                col("n")) / col("sxxc")))
      val segs = ssrOf(dly.groupBy(col("event_type"), col("seg"))
        .agg(sums.head, sums.tail: _*))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_check"),
          min(col("n")).as("n_min"),
          max(when(col("seg") === 1L, col("n"))).as("n1"),
          max(when(col("seg") === 2L, col("n"))).as("n2"),
          max(when(col("seg") === 1L, col("ssr"))).as("ssr_1"),
          max(when(col("seg") === 2L, col("ssr"))).as("ssr_2"))
      val pooled = ssrOf(dly.groupBy(col("event_type"))
        .agg(sums.head, sums.tail: _*))
        .select(col("event_type"), col("n"), col("ssr").as("ssr_pooled"))
      pooled.join(segs, Seq("event_type"))
        .select(col("event_type"), col("n"), col("n1"), col("n2"),
          col("ssr_pooled"), col("ssr_1"), col("ssr_2"),
          when(col("n") > 4 && col("n_min") >= 3 &&
               col("ssr_1").isNotNull && col("ssr_2").isNotNull &&
               col("ssr_1") + col("ssr_2") > 0,
            ((col("ssr_pooled") - col("ssr_1") - col("ssr_2")) / 2) /
              ((col("ssr_1") + col("ssr_2")) / (col("n") - 4)))
            .as("chow_f"))
        .orderBy("event_type")
    }),

    "a117_two_way_anova" -> ((s, d) => {
      val dly = dailyMean(Tables.events(s, d), "y")
      val d0 = dly.agg(min(col("day")).as("d0"))
      val panel = dly.crossJoin(broadcast(d0))
        .withColumn("phase",
          (datediff(col("day"), col("d0")) % 3).cast("long"))
      val grand = panel.agg(count(lit(1)).as("n"),
        sum(col("y").cast("decimal(24,10)")).cast("double").as("sg"))
        .select(col("n"), (col("sg") / col("n")).as("gmean"))
      def ssLevel(key: String, levels: String, ss: String) = panel
        .groupBy(col(key))
        .agg(count(lit(1)).as("nl"),
          sum(col("y").cast("decimal(24,10)")).cast("double").as("sl"))
        .crossJoin(broadcast(grand))
        .withColumn("dev", col("sl") / col("nl") - col("gmean"))
        .agg(count(lit(1)).as(levels),
          sum(round(col("nl") * col("dev") * col("dev"), 6)
            .cast("decimal(24,10)")).cast("double").as(ss))
      val ssA = ssLevel("event_type", "a_levels", "ss_a")
      val ssB = ssLevel("phase", "b_levels", "ss_b")
      val cells = panel.groupBy(col("event_type"), col("phase"))
        .agg(count(lit(1)).as("nc"),
          sum(col("y").cast("decimal(24,10)")).cast("double").as("sc"),
          sum((col("y") * col("y")).cast("decimal(28,8)")).cast("double")
            .as("qc"))
        .crossJoin(broadcast(grand))
        .withColumn("cmean", col("sc") / col("nc"))
        .agg(count(lit(1)).as("n_cells"),
          sum(round(col("nc") * (col("cmean") - col("gmean")) *
            (col("cmean") - col("gmean")), 6).cast("decimal(24,10)"))
            .cast("double").as("ss_cells"),
          sum(round(col("qc") - col("nc") * col("cmean") * col("cmean"), 6)
            .cast("decimal(24,10)")).cast("double").as("ss_e"))
      ssA.crossJoin(broadcast(ssB)).crossJoin(broadcast(cells))
        .crossJoin(broadcast(grand))
        .withColumn("dfa", col("a_levels") - 1)
        .withColumn("dfb", col("b_levels") - 1)
        .withColumn("dfab", col("dfa") * col("dfb"))
        .withColumn("dfe", col("n") - col("n_cells"))
        .withColumn("ss_ab", col("ss_cells") - col("ss_a") - col("ss_b"))
        .select(col("a_levels"), col("b_levels"), col("n"),
          col("ss_a"), col("ss_b"), col("ss_ab"), col("ss_e"),
          // ANSI throws on /0: a single-level factor (df = 0), a
          // saturated design (dfe = 0), or a zero-variance panel
          // (ss_e = 0) all make the F ratio undefined -> NULL
          // (spec: StatsDegenerateSpec)
          when(col("dfa") > 0 && col("dfe") > 0 && col("ss_e") > 0,
            (col("ss_a") / col("dfa")) / (col("ss_e") / col("dfe")))
            .as("f_a"),
          when(col("dfb") > 0 && col("dfe") > 0 && col("ss_e") > 0,
            (col("ss_b") / col("dfb")) / (col("ss_e") / col("dfe")))
            .as("f_b"),
          when(col("dfab") > 0 && col("dfe") > 0 && col("ss_e") > 0,
            (col("ss_ab") / col("dfab")) / (col("ss_e") / col("dfe")))
            .as("f_ab"))
    }),

    "a84_grubbs" -> ((s, d) => {
      val dly = dailyMean(Tables.events(s, d), "y")
      val mo = dly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("y").cast("decimal(24,10)")).cast("double").as("s1"),
          sum((col("y") * col("y")).cast("decimal(28,8)")).cast("double")
            .as("s2"))
        .withColumn("mu", col("s1") / col("n_days"))
        .withColumn("sd", sqrt(
          (col("s2") - col("s1") * col("s1") / col("n_days")) /
            (col("n_days") - 1)))
        .select(col("event_type"), col("n_days"), col("mu"), col("sd"))
      val wDev = Window.partitionBy("event_type")
        .orderBy(col("dev").desc, col("day"))
      dly.join(broadcast(mo), Seq("event_type"))
        .withColumn("dev", abs(col("y") - col("mu")))
        .withColumn("rk", row_number().over(wDev))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("n_days"),
          col("day").as("worst_day"), col("y").as("worst_value"),
          col("mu").as("mean"),
          // a flat panel has sd = 0 and no outlier to score -> NULL
          // (ANSI /0 guard; spec: StatsDegenerateSpec)
          when(col("sd") > 0, col("dev") / col("sd")).as("g"))
        .orderBy("event_type")
    }),

    // A85: Cook's distance + leverage — WHICH days drive A34/A81's
    // regression (A84 scores the most extreme VALUE; this scores
    // regression INFLUENCE, where an unremarkable value at the series
    // edge can outweigh a spike in the middle): per day, leverage
    // hᵢ = 1/n + (xᵢ−x̄)²/Sxx and Dᵢ = eᵢ²·hᵢ/(p·s²·(1−hᵢ)²) with
    // p = 2, flagged at the textbook 4/n. A81's total-pinning
    // discipline end to end — exact integer x-moments, decimal-pinned
    // y/xy sums and SSE, one render each, then every hᵢ/eᵢ/Dᵢ is a
    // fixed-order IEEE chain — bit-identical, RAW, even the flag
    // comparison. One corpus pass to daily means; diagnostics live on
    // the date-bounded frame. Fully oracle-checked.
    "a85_cooks_distance" -> ((s, d) => {
      val dly = trendPanel(s, d)
      val co = trendFit(dly)
        .withColumn("xbar", col("sx").cast("double") / col("n"))
        .withColumn("sxx_c",
          col("sxx").cast("double") -
            col("sx").cast("double") * col("sx") / col("n"))
        .select(col("event_type"), col("n"), col("beta"), col("alpha"),
          col("xbar"), col("sxx_c"))
      val withE = dly.join(broadcast(co), Seq("event_type"))
        .withColumn("e", col("y") - (col("alpha") + col("beta") * col("x")))
      val sse = withE.groupBy(col("event_type"))
        .agg(sum((col("e") * col("e")).cast("decimal(30,8)")).cast("double")
          .as("sse"))
      withE.join(broadcast(sse), Seq("event_type"))
        .withColumn("s2", col("sse") / (col("n") - 2))
        .withColumn("h", lit(1.0d) / col("n") +
          (col("x") - col("xbar")) * (col("x") - col("xbar")) / col("sxx_c"))
        // a perfect fit (flat panel: s2 = 0) makes D undefined ->
        // NULL (ANSI /0 guard; ratchet spec); 1-h > 0 always at the
        // panel sizes (h < 1 strictly when n > 2)
        .withColumn("cooks_d",
          when(col("s2") > 0,
            col("e") * col("e") * col("h") /
              (lit(2.0d) * col("s2") * (lit(1.0d) - col("h")) *
                (lit(1.0d) - col("h")))))
        .select(col("event_type"), col("day"), col("e").as("resid"),
          col("h").as("leverage"), col("cooks_d"),
          (col("cooks_d") > lit(4.0d) / col("n")).as("influential"))
        .orderBy("event_type", "day")
    }),

    // A86: Breusch–Pagan heteroskedasticity test — "are A34/A81's
    // constant-variance standard errors even the right model?" (the
    // third leg of the diagnostic triad: A81 tests residual
    // CORRELATION, A85 scores INFLUENCE, this tests residual
    // VARIANCE structure): the auxiliary regression of e² on x,
    // LM = n·R² with R² = Sxy²/(Sxx·Syy) on the centered (x, e²)
    // moments ~ χ²₁ under homoskedasticity. Same total pinning: e is
    // A81's bit-identical residual, e² its exact square, the
    // auxiliary moments decimal-pinned, the R²/LM chain fixed-order
    // IEEE — RAW. The χ² p twin rides the golden-tested gamma-Q
    // kernel (rows-only, A41's contract). Fully oracle-checked.
    "a86_breusch_pagan" -> ((s, d) => {
      val dly = trendPanel(s, d)
      val co = trendFit(dly)
        .select(col("event_type"), col("n"), col("sx"), col("sxx"),
          col("beta"), col("alpha"))
      dly.join(broadcast(co), Seq("event_type"))
        .withColumn("e", col("y") - (col("alpha") + col("beta") * col("x")))
        .withColumn("u", col("e") * col("e"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_days"),
          max(col("sx")).as("sx2"), max(col("sxx")).as("sxx2"),
          sum(col("u").cast("decimal(30,8)")).cast("double").as("su"),
          sum((col("x") * col("u")).cast("decimal(32,6)")).cast("double")
            .as("sxu"),
          sum((col("u") * col("u")).cast("decimal(36,4)")).cast("double")
            .as("suu"))
        .withColumn("sxy_c",
          col("sxu") - col("sx2").cast("double") * col("su") / col("n_days"))
        .withColumn("sxx_c",
          col("sxx2").cast("double") -
            col("sx2").cast("double") * col("sx2") / col("n_days"))
        .withColumn("syy_c",
          col("suu") - col("su") * col("su") / col("n_days"))
        // homoskedastic-to-degeneracy (flat panel: every e² = 0 ->
        // syy_c = 0) -> R²/LM undefined -> NULL (ANSI /0 guard;
        // ratchet spec)
        .withColumn("r2",
          when(col("sxx_c") * col("syy_c") > 0,
            col("sxy_c") * col("sxy_c") /
              (col("sxx_c") * col("syy_c"))))
        .select(col("event_type"), col("n_days"),
          col("r2").as("aux_r2"),
          (col("n_days") * col("r2")).as("lm_stat"),
          (col("n_days") * col("r2") > lit(3.841458820694124d))
            .as("heteroskedastic_5pct"))
        .orderBy("event_type")
    }),

    // A86 p twin: P(χ²₁ > LM) = erfc(√(LM/2)) via the PinnedSeries
    // erfc chain on the main query's hash-checked raw LM — pure IEEE
    // (sqrt is correctly rounded), bit-identical raw doubles, fully
    // hash-checked (flipped from rows-only in round 14).
    "a86_bp_pvalue" -> ((s, d) =>
      queries("a86_breusch_pagan")(s, d)
        .select(col("event_type"), col("n_days"), col("lm_stat"),
          PinnedSeries.erfcCol(sqrt(col("lm_stat") / lit(2.0)))
            .as("p_value"))),

    // A87: Friedman test — the BLOCKED-design companion to A73's
    // Kruskal–Wallis (KW compares independent groups; this blocks by
    // DAY, ranking the k series within each day, so day-level shocks
    // that hit every series cancel — the repeated-measures question
    // "do the series systematically order the same way?"): midranks
    // within complete blocks (rank + (ties−1)/2 — half-integers,
    // EXACT in doubles, as are all their sums: no decimal pins needed
    // anywhere — every addend sits on the exact 0.25 grid, so even
    // the unordered window sums are associative), Conover's
    // tie-robust form Q = (k−1)·Σ(Rⱼ − n(k+1)/2)² / (Σrᵢⱼ² −
    // nk(k+1)²/4) ~ χ²ₖ₋₁ (inference in the p twin — a fixed 5%
    // critical would hardcode k). Per-type rank sums repeat Q on each
    // row (TXT18's one-grain pattern). One corpus pass to the
    // (day, type) means;
    // ranks are per-day windows over ≤k rows; everything after lives
    // on the k-row frame. Fully oracle-checked.
    "a87_friedman" -> ((s, d) => {
      val ranked = friedmanRanks(s, d)
      val perType = ranked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("r")).as("rank_sum"),
          sum(col("r") * col("r")).as("rsq_sum"),
          max(col("k")).as("k"))
      val wAll = Window.partitionBy()
      perType
        .withColumn("n", max(col("n_days")).over(wAll))
        .withColumn("num", sum(
          (col("rank_sum") - col("n") * (col("k") + 1).cast("double") / 2) *
          (col("rank_sum") - col("n") * (col("k") + 1).cast("double") / 2))
          .over(wAll))
        .withColumn("den", sum(col("rsq_sum")).over(wAll) -
          col("n") * col("k") * (col("k") + 1).cast("double") *
            (col("k") + 1) / 4)
        // fully-tied blocks (flat corpus) zero the tie-corrected
        // denominator -> Q undefined -> NULL (ANSI /0 guard; ratchet
        // spec); n_days > 0 by construction
        .withColumn("q_stat",
          when(col("den") =!= 0.0d,
            (col("k") - 1).cast("double") * col("num") / col("den")))
        .select(col("event_type"), col("n_days"), col("k"),
          col("rank_sum"),
          (col("rank_sum") / col("n_days")).as("mean_rank"),
          col("q_stat"))
        .orderBy("event_type")
    }),

    // A101: Kendall's coefficient of concordance W — "how much do
    // the days agree on the ranking of the series?", the effect-size
    // companion to A87's Friedman decision via the exact identity
    // W = Q/(m(k−1)) (tie-corrected on both sides, Kendall & Babington
    // Smith 1939). Derived from A87's oracle-checked frame with one
    // extra division — max() folds over the constant-per-type columns
    // (no float summation anywhere new).
    "a101_kendalls_w" -> ((s, d) =>
      queries("a87_friedman")(s, d)
        .agg(max(col("k")).as("k"), max(col("n_days")).as("n_blocks"),
          max(col("q_stat")).as("q_stat"))
        .select(col("k"), col("n_blocks"), col("q_stat"),
          (col("q_stat") /
            (col("n_blocks") * (col("k") - 1)).cast("double"))
            .as("kendalls_w"))),

    // A100: first-order partial correlation — does close co-move
    // with volume BEYOND what the shared time trend explains?
    // r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) over
    // (x = daily mean value, y = daily volume, z = day index), each
    // pairwise r from one moments agg (x sums decimal-pinned, y/z
    // sums exact integers) rendered at r6 (the A2 contract — r6
    // absorbs the engines' different moment-update orders), then the
    // partial is ONE fixed IEEE chain on those identical rounded
    // doubles. Degenerate |r| = 1 controls excluded on the rounded
    // values (exact comparison).
    "a100_partial_corr" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .withColumn("qty",
          get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"), col("day"))
        .agg(pinnedMean(col("value")).as("x"), sum(col("qty")).as("y"))
        .withColumn("z",
          datediff(col("day"), lit("2024-01-01").cast("date"))
            .cast("long"))
      val m = daily.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        dsum(col("x")).as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("z")).cast("double").as("sz"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double")
          .as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("z") * col("z")).cast("double").as("szz"),
        sum((col("x") * col("y").cast("double")).cast("decimal(38,8)"))
          .cast("double").as("sxy"),
        sum((col("x") * col("z").cast("double")).cast("decimal(38,8)"))
          .cast("double").as("sxz"),
        sum(col("y") * col("z")).cast("double").as("syz"))
      def rr(sab: Column, sa: Column, sb: Column, saa: Column,
          sbb: Column): Column = {
        val nd = col("n").cast("double")
        // zero-variance guard (ANSI): NULL r like DuckDB corr — the
        // downstream (1−r²)(1−r²) > 0 filter then drops the row
        val den = sqrt((nd * saa - sa * sa) * (nd * sbb - sb * sb))
        r6(when(den =!= 0.0, (nd * sab - sa * sb) / den))
      }
      m.withColumn("r_xy", rr(col("sxy"), col("sx"), col("sy"),
          col("sxx"), col("syy")))
        .withColumn("r_xz", rr(col("sxz"), col("sx"), col("sz"),
          col("sxx"), col("szz")))
        .withColumn("r_yz", rr(col("syz"), col("sy"), col("sz"),
          col("syy"), col("szz")))
        .filter((lit(1.0) - col("r_xz") * col("r_xz")) *
          (lit(1.0) - col("r_yz") * col("r_yz")) > 0)
        .select(col("event_type"), col("n"), col("r_xy"), col("r_xz"),
          col("r_yz"),
          ((col("r_xy") - col("r_xz") * col("r_yz")) /
            sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
              (lit(1.0) - col("r_yz") * col("r_yz"))))
            .as("partial_r"))
        .orderBy("event_type")
    }),

    // A87 p twin: P(χ²ₖ₋₁ > Q) via the PinnedSeries exact survival
    // series on the main query's hash-checked raw Q; 6-dp output for
    // the one exp(−y). Fully hash-checked (flipped in round 14).
    "a87_friedman_pvalue" -> ((s, d) =>
      queries("a87_friedman")(s, d)
        .select(col("event_type"), col("n_days"), col("k"),
          col("q_stat"),
          r6(PinnedSeries.chiSqPCol(col("q_stat"),
            (col("k") - 1).cast("double"))).as("p_value"))),

    // A88: Tukey HSD pairwise contrasts — the post-hoc table that
    // answers what A52's ANOVA leaves open (ANOVA says "SOME mean
    // differs"; analysts immediately ask WHICH pairs): for every
    // unordered series pair, the mean difference, its pooled-variance
    // standard error and the studentized-range statistic
    // q = |mᵢ−mⱼ|/√(MSW/2·(1/nᵢ+1/nⱼ)). Total pinning again: group
    // sums and square-sums are exact decimals rendered once, so
    // means and within-group SS are bit-identical IEEE; the ONE
    // unordered k-row sum (ΣSSWg, arbitrary doubles — not A87's
    // exact grid) pins through DECIMAL(30,4), then MSW and every
    // pairwise chain replay fixed-order — RAW output (the q critical depends on
    // (k, df); inference belongs to a studentized-range kernel, not a
    // hardcoded literal). One conditional corpus hash agg; the pair
    // join is the k-row frame against itself. Fully oracle-checked.
    "a88_tukey_pairs" -> ((s, d) => {
      val g = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(24,10)")).cast("double").as("s1"),
          sum((col("value") * col("value")).cast("decimal(28,8)"))
            .cast("double").as("s2"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("ssw_g", col("s2") - col("s1") * col("s1") / col("n"))
      val wAll = Window.partitionBy()
      val gm = g
        .withColumn("k", count(lit(1)).over(wAll))
        .withColumn("n_tot", sum(col("n")).over(wAll))
        .withColumn("msw",
          sum(col("ssw_g").cast("decimal(30,4)")).over(wAll).cast("double")
            / (col("n_tot") - col("k")).cast("double"))
      val a = gm.select(col("event_type").as("type_a"), col("n").as("n_a"),
        col("mean").as("mean_a"), col("msw"))
      val b = gm.select(col("event_type").as("type_b"), col("n").as("n_b"),
        col("mean").as("mean_b"))
      a.join(broadcast(b), col("type_a") < col("type_b"))
        .withColumn("diff", col("mean_a") - col("mean_b"))
        .withColumn("se", sqrt(col("msw") / 2 *
          (lit(1.0d) / col("n_a") + lit(1.0d) / col("n_b"))))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("diff"), col("se"),
          // zero within-group mean square (flat corpus) -> q
          // undefined -> NULL (ANSI /0 guard; ratchet spec)
          when(col("se") > 0, abs(col("diff")) / col("se"))
            .as("q_stat"))
        .orderBy("type_a", "type_b")
    }),

    // A78: calibration block (Brier + reliability bins) — AUC (A72)
    // ranks, but a score that RANKS well can still LIE about
    // probabilities; this is the companion every model scorecard
    // pairs with it: confidence p̂ = min-max-normalized value
    // (A71's exact global-range binning), outcome y = payload
    // k ≥ 50, Brier = mean (p̂−y)² per series (decimal-pinned sum,
    // one division), and the 10-bin reliability diagram — per
    // (series, confidence bin): n, mean confidence (decimal), the
    // observed positive rate (one raw division), and the signed
    // calibration gap. One corpus pass into a (type, bin) hash agg;
    // Brier then folds over the ≤10-bin frame via a shared-exchange
    // window and repeats per bin row (TXT18's repetition pattern —
    // one result grain, never a second corpus pass). Fully
    // oracle-checked.
    "a78_calibration" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("value"),
          (get_json_object(col("props"), "$.k").cast("long") >= 50)
            .as("y"))
      val rng = ev.agg(min(col("value")).as("vmin"),
        max(col("value")).as("vmax"))
      val scored = ev.crossJoin(broadcast(rng))
        // vmax = vmin -> conf 0, one bin (the degenerate-range guard
        // class; ratchet spec)
        .withColumn("conf",
          when(col("vmax") > col("vmin"),
            (col("value") - col("vmin")) / (col("vmax") - col("vmin")))
            .otherwise(lit(0.0d)))
        .withColumn("bin", least(floor(col("conf") * 10), lit(9L)))
        .withColumn("yd", col("y").cast("double"))
      val bins = scored.groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"),
          (dsum(col("conf")) /
            count(lit(1))).as("avg_conf"),
          sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
          sum(((col("conf") - col("yd")) * (col("conf") - col("yd")))
            .cast("decimal(30,12)")).as("sqsum"))
      // Brier via a window on the bin frame, not a groupBy+self-join
      // (a DataFrame consumed twice re-executes the corpus agg — the
      // A76 lesson); the window sums ≤10 decimal rows per series
      val wT = Window.partitionBy("event_type")
      bins
        .withColumn("brier", sum(col("sqsum")).over(wT).cast("double") /
          sum(col("n")).over(wT))
        .select(col("event_type"), col("bin"), col("n"),
          r6(col("avg_conf")).as("avg_conf"),
          (col("n_pos").cast("double") / col("n")).as("frac_pos"),
          r6(col("n_pos").cast("double") / col("n") - col("avg_conf"))
            .as("gap"),
          r6(col("brier")).as("brier"))
        .orderBy("event_type", "bin")
    }),

    // A77: Page–Hinkley drift test — the sequential change detector
    // beside A49's CUSUM (PH is the streaming-monitoring textbook
    // form: Page 1954, the variant ML-ops libraries ship): per
    // series in day order, term_t = x_t − mean(x₁..x_t) − δ against
    // the RUNNING prefix mean (self-adapting where A49 fixes a
    // reference), M_t = Σ terms, PH_t = M_t − min_{s≤t} M_s, alarm
    // when PH > λ. Every cumulative (prefix sum for the mean, term
    // sum, running min) is one per-series window pass over the
    // O(types×days) daily frame; both running sums decimal-pinned
    // (w17's contract), the min compares exact doubles, PH is one
    // elementwise subtraction → RAW doubles hash-match. δ = 0.05,
    // λ = 5 (scaled to the daily-mean magnitudes). Fully
    // oracle-checked.
    "a77_page_hinkley" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val wc = wd.rowsBetween(Window.unboundedPreceding, 0)
      dailyMean(Tables.events(s, d), "v")
        .withColumn("rn", row_number().over(wd).cast("long"))
        .withColumn("runsum",
          sum(col("v").cast("decimal(30,12)")).over(wc).cast("double"))
        .withColumn("term",
          col("v") - col("runsum") / col("rn") - lit(0.05d))
        .withColumn("m",
          sum(col("term").cast("decimal(30,12)")).over(wc).cast("double"))
        .withColumn("m_min", min(col("m")).over(wc))
        .withColumn("ph", col("m") - col("m_min"))
        .select(col("event_type"), col("day"), col("v"), col("ph"),
          (col("ph") > lit(5.0d)).as("alarm"))
        .orderBy("event_type", "day")
    }),

    // A74: Levene's homogeneity-of-variance test (mean-centered
    // form) — the gate every ANOVA/t-test user should run first:
    // are the five series' value SPREADS equal? Per-group absolute
    // deviations z = |x − mean_g| (group means from decimal-pinned
    // sums — identical correctly-rounded doubles both engines), then
    // the one-way F of A52 re-run on z: per-group (n, Σz, Σz²) hash
    // agg, SSB/SSW folded in event_type order over the K-row group
    // frame (the A29/A52 pinned-fold discipline). Two corpus passes
    // (means, then deviations — unavoidable for the mean-centered
    // form), both map-side-combinable hash aggs; the broadcast mean
    // join never shuffles the corpus. Fully oracle-checked.
    "a74_levene" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
      val means = ev.groupBy("event_type")
        .agg((dsum(col("value")) / count(lit(1))).as("mu"))
      oneWay(ev.join(broadcast(means), Seq("event_type"))
          .select(col("event_type"), abs(col("value") - col("mu")).as("z")),
          col("z"))
        .select(col("k"), col("n"), r6(col("ssb")).as("ssb_dev"),
          r6(col("ssw")).as("ssw_dev"), fRatio.as("w_stat"))
    }),

    // A99: Brown–Forsythe — A74's Levene with MEDIAN centers, the
    // robust default scipy/R recommend when tails are heavy (the
    // mean-centered W inflates under skew; the median variant holds
    // its size): z = |value − median_g| with median_g the exact
    // interpolated per-group percentile (identical on both engines),
    // then the IDENTICAL decimal-pinned fold chain as A74 (same
    // array_sort'd group frame, same fixed term order, same r6
    // renders). One extra tiny agg + broadcast vs A74 — the median
    // needs its own pass where the mean rode the main agg.
    "a99_brown_forsythe" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
      val meds = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("md"))
      oneWay(ev.join(broadcast(meds), Seq("event_type"))
          .select(col("event_type"), abs(col("value") - col("md")).as("z")),
          col("z"))
        .select(col("k"), col("n"), r6(col("ssb")).as("ssb_dev"),
          r6(col("ssw")).as("ssw_dev"), fRatio.as("bf_stat"))
    }),

    // A74 p twin — Levene's W is F-distributed at (k−1, N−k) under
    // H₀; upper tail via the pinned incomplete-beta chain
    // (PinnedBeta; flipped from rows-only in round 14) on a74's
    // oracle-checked rounded W row.
    "a74_levene_pvalue" -> ((s, d) =>
      queries("a74_levene")(s, d)
        .select(col("w_stat"),
          (col("k") - 1).cast("double").as("d1"),
          (col("n") - col("k")).cast("double").as("d2"))
        .select(col("w_stat"), col("d1"), col("d2"),
          r6(PinnedBeta.fUpperPCol(col("w_stat"), col("d1"),
            col("d2"))).as("p_value"))),

    // A41 p-value twin — χ² folded in (type, dow) order over the
    // oracle-checked rounded terms (the A29 pattern), df derived from
    // the observed margins ((R−1)(C−1)), upper-tail p via the
    // PinnedSeries exact survival series on the 6-dp-rounded fold;
    // 6-dp output for the one exp(−y). Fully hash-checked (flipped
    // from rows-only in round 14).
    "a41_chi2_pvalue" -> ((s, d) =>
      queries("a41_chi2_independence")(s, d)
        .agg(
          aggregate(
            array_sort(collect_list(struct(col("event_type"), col("dow"),
              col("term")))),
            lit(0.0d), (acc, x) => acc + x.getField("term")).as("chi2"),
          ((countDistinct(col("event_type")) - 1) *
            (countDistinct(col("dow")) - 1)).as("df"))
        .select(r6(col("chi2")).as("chi2"), col("df"),
          r6(PinnedSeries.chiSqPCol(r6(col("chi2")),
            col("df").cast("double"))).as("p_value"))),

    // A90: Wald–Wolfowitz runs test for randomness of each series'
    // daily closes around their median — the is-this-walk-random
    // screen run before trusting a trend statistic (A55's
    // complement: Mann–Kendall asks IS there a trend; the runs test
    // asks whether the sign sequence even deviates from exchangeable
    // noise). Exact-median split (A17's percentile twin), ties at
    // the median excluded per the textbook; runs counted by one
    // lag-window pass; n1/n2/runs are INTEGERS, so μ, σ² and z are
    // one fixed-shape IEEE chain from integers — raw doubles
    // hash-match with no pins. Scale: candle hash-agg + one keyed
    // window + a group-cardinality broadcast of the medians.
    "a90_runs_test" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val closes = candles(s, d)
      val med = closes.groupBy("event_type")
        .agg(expr("percentile(close, 0.5)").as("med"))
      closes.join(broadcast(med), Seq("event_type"))
        .filter(col("close") =!= col("med"))
        .withColumn("sgn", (col("close") > col("med")).cast("long"))
        .withColumn("prev", lag(col("sgn"), 1).over(wd))
        .withColumn("newrun",
          when(col("prev").isNull || col("sgn") =!= col("prev"), 1L)
            .otherwise(0L))
        .groupBy("event_type")
        .agg(sum(col("sgn")).as("n1"),
          sum(lit(1L) - col("sgn")).as("n2"),
          sum(col("newrun")).as("runs"))
        .filter(col("n1") > 0 && col("n2") > 0)
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("t2", lit(2.0d) * col("n1") * col("n2"))
        .withColumn("mu", col("t2") / col("n") + 1)
        .withColumn("vr", col("t2") * (col("t2") - col("n")) /
          (col("n") * col("n") * (col("n") - 1)).cast("double"))
        .select(col("event_type"), col("n1"), col("n2"), col("runs"),
          ((col("runs") - col("mu")) / sqrt(col("vr"))).as("z"))
        .orderBy("event_type")
    }),

    // A91: Cochran's Q over the daily up/down panel — do the k
    // series share one success rate of up-days, blocked by day (the
    // binary-outcome sibling of A87's Friedman blocks)? Flags are
    // exact-double close>prev comparisons; blocks incomplete after
    // the first-day lag drop are excluded (every series needs a
    // flag for the block to constrain Q). Column totals G_j, block
    // totals B_i and N are pure integer sums, so
    // Q = (k−1)(k·ΣG² − N²)/(k·N − ΣB²) is a single deterministic
    // division from integers. Everything is hash-agg sized by
    // k·days; the two 1-row total frames cross-join for free.
    "a91_cochran_q" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val flags = candles(s, d)
        .withColumn("prev", lag(col("close"), 1).over(wd))
        .filter(col("prev").isNotNull)
        .withColumn("x", (col("close") > col("prev")).cast("long"))
        .select(col("event_type"), col("day"), col("x"))
      val kdf = flags.agg(countDistinct(col("event_type")).as("k"))
      val days = flags.groupBy("day")
        .agg(count(lit(1)).as("dcnt"), sum(col("x")).as("b"))
      val cdays = days.join(broadcast(kdf), col("dcnt") === col("k"))
        .select(col("day"), col("b"), col("k"))
      val gj = flags.join(broadcast(cdays.select("day")), Seq("day"))
        .groupBy("event_type").agg(sum(col("x")).as("g"))
      val gtot = gj.agg(sum(col("g")).as("nn"),
        sum(col("g") * col("g")).as("g2"))
      val btot = cdays.groupBy("k")
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("b") * col("b")).as("b2"))
      btot.crossJoin(gtot)
        // all-success or all-failure blocks zero the denominator
        // k·ΣL − Σb² (Q undefined: no within-block discordance) ->
        // NULL (ANSI /0 guard; ratchet spec)
        .select(col("k"), col("n_blocks"), col("nn").as("n_success"),
          when(col("k") * col("nn") - col("b2") =!= 0,
            (col("k") - 1).cast("double") *
              (col("k") * col("g2") - col("nn") * col("nn"))
                .cast("double") /
              (col("k") * col("nn") - col("b2")).cast("double"))
            .as("q_stat"))
    }),

    // A92: McNemar's test on the paired binary panel A91 blocks over —
    // per (event_type, day): x = price up-day (close > prev close),
    // y = volume up-day (vol > prev vol); did the price and volume
    // direction DISAGREE more often one way than the other? Only the
    // discordant cells matter: b = up-price/down-volume, c = the
    // reverse; χ² = (b−c)²/(b+c) plus the Edwards continuity twin
    // (|b−c|−1)²/(b+c). Integer counts end to end (double
    // comparisons are exact cross-engine), ONE division each —
    // nothing to pin. Types with b+c = 0 are excluded (the statistic
    // is 0/0). One candle shuffle + per-type lag + one hash agg.
    "a92_mcnemar" -> ((s, d) => {
      upDown(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("x") === 1 && col("y") === 0, 1L).otherwise(0L))
            .as("b"),
          sum(when(col("x") === 0 && col("y") === 1, 1L).otherwise(0L))
            .as("c"))
        .filter(col("b") + col("c") > 0)
        .select(col("event_type"), col("n_pairs"), col("b"), col("c"),
          (((col("b") - col("c")) * (col("b") - col("c"))).cast("double") /
            (col("b") + col("c")).cast("double")).as("chi2"),
          (((abs(col("b") - col("c")) - 1) *
            (abs(col("b") - col("c")) - 1)).cast("double") /
            (col("b") + col("c")).cast("double")).as("chi2_cc"))
        .orderBy("event_type")
    }),

    // A119: Cochran–Mantel–Haenszel χ² — the STRATIFIED association
    // test the 2×2 family needs at the corpus level (A92/A102 score
    // each series' up-price × up-volume table separately; pooling the
    // tables naively invites Simpson's paradox — CMH pools the
    // EVIDENCE instead, one (a_k − E_k) contribution per stratum):
    // strata = event_type over the shared daily up-price/up-volume
    // panel, χ²_CMH = (max(0, |Σa − ΣE| − ½))² / ΣV with
    // E_k = r1·c1/n and V_k = r1(n−r1)c1(n−c1)/(n²(n−1)), continuity
    // corrected. Float discipline: all cells exact BIGINTs, each
    // E_k/V_k one division of exact integer products (bounded ≪2⁵³ at
    // panel sizes), the cross-strata sums folded in event_type order
    // over the collected ≤k-row frame (the a52 ordered-fold pattern,
    // mirrored by list_sum ORDER BY), the final χ² one fixed chain —
    // raw doubles, fully hash-checked. Single-day strata drop (V
    // undefined at n = 1); ΣV = 0 → NULL (the ANSI guard).
    "a119_cmh" -> ((s, d) => {
      val strata = upDown(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("nk"),
          sum(col("x") * col("y")).as("a"),
          sum(col("x")).as("r1"),
          sum(col("y")).as("c1"))
        .filter(col("nk") > 1)
      strata
        .agg(count(lit(1)).as("k"), sum(col("nk")).as("n"),
          sum(col("a")).as("sum_a"),
          array_sort(collect_list(struct(col("event_type"), col("nk"),
            col("a"), col("r1"), col("c1")))).as("gs"))
        .withColumn("sum_e", fold(x =>
          (x.getField("r1") * x.getField("c1")).cast("double") /
            x.getField("nk").cast("double")))
        .withColumn("sum_v", fold(x =>
          (x.getField("r1") * (x.getField("nk") - x.getField("r1")) *
            x.getField("c1") * (x.getField("nk") - x.getField("c1")))
            .cast("double") /
            (x.getField("nk") * x.getField("nk") *
              (x.getField("nk") - 1)).cast("double")))
        .withColumn("g", greatest(lit(0.0d),
          abs(col("sum_a").cast("double") - col("sum_e")) - lit(0.5d)))
        .select(col("k"), col("n"), col("sum_a"), col("sum_e"),
          col("sum_v"),
          when(col("sum_v") > 0,
            col("g") * col("g") / col("sum_v")).as("cmh_chi2"))
    }),

    // A102: odds ratio + relative risk on A92's 2×2 up-price/up-volume
    // panel — the epidemiology-style effect sizes the McNemar decision
    // doesn't report: OR = ad/bc and RR = a(c+d)/(c(a+b)) are ONE
    // division each from exact integer cell products; the Woolf CI
    // rides on log OR with SE = √(1/a+1/b+1/c+1/d) (fixed 4-term
    // order) — ln/exp are libm calls, so those three columns render
    // at r6 (the A2 contract: r6 absorbs last-ulp libm divergence),
    // while or/rr stay raw. Types with any empty cell are excluded
    // (the statistic is undefined, and ANSI division would throw).
    "a102_odds_ratio" -> ((s, d) => {
      upDown(s, d)
        .groupBy("event_type")
        .agg(sum(when(col("x") === 1 && col("y") === 1, 1L).otherwise(0L))
            .as("a"),
          sum(when(col("x") === 1 && col("y") === 0, 1L).otherwise(0L))
            .as("b"),
          sum(when(col("x") === 0 && col("y") === 1, 1L).otherwise(0L))
            .as("c"),
          sum(when(col("x") === 0 && col("y") === 0, 1L).otherwise(0L))
            .as("d"))
        .filter(col("a") > 0 && col("b") > 0 && col("c") > 0 &&
          col("d") > 0)
        .withColumn("or_", (col("a") * col("d")).cast("double") /
          (col("b") * col("c")).cast("double"))
        .withColumn("se", sqrt(
          lit(1.0) / col("a") + lit(1.0) / col("b") +
            lit(1.0) / col("c") + lit(1.0) / col("d")))
        .select(col("event_type"), col("a"), col("b"), col("c"),
          col("d"), col("or_").as("odds_ratio"),
          ((col("a") * (col("c") + col("d"))).cast("double") /
            (col("c") * (col("a") + col("b"))).cast("double"))
            .as("rel_risk"),
          r6(log(col("or_"))).as("log_or"),
          r6(exp(log(col("or_")) - lit(1.96) * col("se"))).as("ci_lo"),
          r6(exp(log(col("or_")) + lit(1.96) * col("se"))).as("ci_hi"))
        .orderBy("event_type")
    }),

    // A103: Theil's U (uncertainty coefficient) — the ASYMMETRIC
    // categorical-association gauge A44/A48 don't report: U(X|Y) =
    // (H(X)+H(Y)−H(X,Y))/H(X) answers "what fraction of event-type
    // uncertainty does knowing the weekday remove" — directional,
    // unlike Cramér's V, and normalized per-variable, unlike raw MI.
    // Same (event_type, dow) contingency as A48; each entropy is a
    // decimal-pinned sum of r6'd per-cell terms (the A48 determinism
    // contract: ln over exact integer ratios, both engines feed libm
    // the same double), the two U's are one division each over those
    // identical rounded entropies, r6-rendered.
    "a103_theils_u" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .select(col("event_type"), dayofweek(col("ts")).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum(col("n")).as("t"))
      def ent(df: DataFrame, keys: Seq[String], out: String) = df
        .groupBy(keys.map(col): _*).agg(sum(col("n")).as("k"))
        .crossJoin(broadcast(tot))
        .withColumn("term",
          r6(-(col("k").cast("double") / col("t")) *
            log(col("k").cast("double") / col("t").cast("double"))))
        .agg(sum(col("term").cast("decimal(24,10)")).cast("double")
          .as(out))
      val hx = ent(cells, Seq("event_type"), "hx")
      val hy = ent(cells, Seq("dow"), "hy")
      val hxy = ent(cells, Seq("event_type", "dow"), "hxy")
      hx.crossJoin(broadcast(hy)).crossJoin(broadcast(hxy))
        .select(r6(col("hx")).as("h_type"), r6(col("hy")).as("h_dow"),
          r6(col("hxy")).as("h_joint"),
          r6((col("hx") + col("hy") - col("hxy")) / col("hx"))
            .as("u_type_given_dow"),
          r6((col("hx") + col("hy") - col("hxy")) / col("hy"))
            .as("u_dow_given_type"))
    }),

    // A104: Cronbach's alpha — the internal-consistency gauge over
    // the daily panel (Cronbach 1951): items = the k event types'
    // daily mean values, subjects = the days (a complete k×n panel —
    // every type posts every day, asserted in-spec); α = k/(k−1) ·
    // (1 − Σᵢσ²ᵢ/σ²_total) where σ²ᵢ is each item's sample variance
    // and σ²_total the variance of the per-day SUM across items.
    // Float discipline: every variance derives from decimal-pinned
    // Σv/Σv² (raw double products are exact IEEE; the pin makes the
    // summation order vanish), renders at r6; the per-day total is
    // itself a decimal-pinned sum (a raw k-term float sum would be
    // order-sensitive); Σᵢσ²ᵢ decimal-sums the r6'd variances (the
    // TXT20 exact-grid trick); α is one fixed IEEE chain on those
    // identical rounded doubles. Scale: one (type, day) hash agg,
    // then two aggregations over O(types×days) rows — nothing
    // corpus-sized past the first exchange.
    "a104_cronbach_alpha" -> ((s, d) => {
      val daily = dailyMean(Tables.events(s, d), "v")
      val itemVar = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(24,10)")).cast("double").as("s1"),
          sum((col("v") * col("v")).cast("decimal(30,10)")).cast("double")
            .as("s2"))
        .select(r6((col("s2") - col("s1") * col("s1") / col("n")) /
          (col("n") - 1)).as("ivar"))
      val iv = itemVar.agg(count(lit(1)).as("k"),
        sum(col("ivar").cast("decimal(24,10)")).cast("double").as("siv"))
      val tv = daily.groupBy("day")
        .agg(sum(col("v").cast("decimal(24,10)")).cast("double").as("tot"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("tot").cast("decimal(24,10)")).cast("double").as("s1"),
          sum((col("tot") * col("tot")).cast("decimal(30,10)"))
            .cast("double").as("s2"))
        .select(col("n_days"),
          r6((col("s2") - col("s1") * col("s1") / col("n_days")) /
            (col("n_days") - 1)).as("tvar"))
      iv.crossJoin(broadcast(tv))
        .select(col("k"), col("n_days"),
          r6(col("siv")).as("sum_item_var"), col("tvar").as("total_var"),
          // zero total variance (flat panel) ⇒ α undefined, NULL not
          // an ANSI throw (mirrored in the oracle)
          r6(when(col("tvar") =!= 0.0,
            (col("k").cast("double") / (col("k") - 1)) *
              (lit(1.0) - col("siv") / col("tvar")))).as("alpha"))
    }),

    // A105: intraclass correlation ICC(3,1) + ICC(2,1) (Shrout &
    // Fleiss 1979) — the AGREEMENT twin of A104's consistency: do
    // the k event types rank the days the same way (consistency,
    // ICC(3,1)) and do they agree in LEVEL too (absolute agreement,
    // ICC(2,1))? Two-way ANOVA decomposition over A104's complete
    // k×n panel: SS_R (days), SS_C (types), SS_E = SS_T − SS_R −
    // SS_C, each from decimal-pinned Σv/Σv²/Σtot²/Σts² aggregates
    // (v is the bit-identical pinned daily mean; tot/ts are
    // themselves pinned sums, so their squares are exact IEEE
    // products of identical doubles) — the SS/MS/ICC chains are
    // fixed-shape IEEE on those identical aggregates, r6 only at
    // emission. Scale: one (type, day) hash agg, then three small
    // aggs over O(k×n) rows.
    "a105_icc" -> ((s, d) => {
      val daily = dailyMean(Tables.events(s, d), "v")
      val g = daily.agg(count(lit(1)).as("nk"),
        sum(col("v").cast("decimal(24,10)")).cast("double").as("s"),
        sum((col("v") * col("v")).cast("decimal(30,10)")).cast("double")
          .as("ssq"))
      val rows = daily.groupBy("day")
        .agg(sum(col("v").cast("decimal(24,10)")).cast("double").as("tot"))
        .agg(count(lit(1)).as("n"),
          sum((col("tot") * col("tot")).cast("decimal(30,10)"))
            .cast("double").as("srow"))
      val cols = daily.groupBy("event_type")
        .agg(sum(col("v").cast("decimal(24,10)")).cast("double").as("ts"))
        .agg(count(lit(1)).as("k"),
          sum((col("ts") * col("ts")).cast("decimal(30,10)"))
            .cast("double").as("scol"))
      val cf = col("s") * col("s") / col("nk").cast("double")
      val ssr = col("srow") / col("k").cast("double") - cf
      val ssc = col("scol") / col("n").cast("double") - cf
      val sst = col("ssq") - cf
      val sse = sst - ssr - ssc
      val msr = ssr / (col("n") - 1).cast("double")
      val msc = ssc / (col("k") - 1).cast("double")
      val mse = sse / ((col("n") - 1) * (col("k") - 1)).cast("double")
      // zero-variance guards (ANSI): a flat panel has msr = mse = 0 ⇒
      // both ICC denominators vanish ⇒ NULL, not a throw (mirrored in
      // the oracle)
      val den31 = msr + (col("k") - 1).cast("double") * mse
      val icc31 = when(den31 =!= 0.0, (msr - mse) / den31)
      val den21 = msr + (col("k") - 1).cast("double") * mse +
        col("k").cast("double") * (msc - mse) / col("n").cast("double")
      val icc21 = when(den21 =!= 0.0, (msr - mse) / den21)
      g.crossJoin(broadcast(rows)).crossJoin(broadcast(cols))
        .select(col("k"), col("n").as("n_days"),
          r6(msr).as("ms_rows"), r6(msc).as("ms_cols"),
          r6(mse).as("ms_err"), r6(icc31).as("icc_3_1"),
          r6(icc21).as("icc_2_1"))
    }),

    // A106: Bartlett's test — the variance-homogeneity gauge that
    // completes the family (A74 Levene = mean centers, A99 Brown–
    // Forsythe = median centers, Bartlett = the normal-theory
    // original scipy pairs them with): T = ((N−k)·ln Sp² −
    // Σ(nᵢ−1)·ln Sᵢ²)/C with C = 1 + (Σ1/(nᵢ−1) − 1/(N−k))/(3(k−1)),
    // over the raw per-event values grouped by type. Float
    // discipline: each group variance from pinned Σx/Σx² rendered at
    // r6; each ln TERM r6'd whole (the A103 libm-absorption
    // contract); the three cross-group folds (pooled numerator, ln
    // terms, reciprocals) decimal-pinned over r6'd summands
    // (order-free); T and C one fixed chain each. Degenerate
    // zero-variance groups excluded by an exact filter.
    "a106_bartlett" -> ((s, d) => {
      val grp = Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("ni"),
          sum(col("value").cast("decimal(24,10)")).cast("double").as("s1"),
          sum((col("value") * col("value")).cast("decimal(30,10)"))
            .cast("double").as("s2"))
        .withColumn("svar",
          r6((col("s2") - col("s1") * col("s1") / col("ni")) /
            (col("ni") - 1)))
        .filter(col("svar") > 0)
      val agg = grp.agg(count(lit(1)).as("k"),
        sum(col("ni")).as("nn"),
        sum(((col("ni") - 1).cast("double") * col("svar"))
          .cast("decimal(30,10)")).cast("double").as("pool_num"),
        sum(r6((col("ni") - 1).cast("double") *
            log(col("svar"))).cast("decimal(30,10)"))
          .cast("double").as("ln_terms"),
        sum(r6(lit(1.0) / (col("ni") - 1).cast("double"))
          .cast("decimal(24,10)")).cast("double").as("recip"))
      val df = (col("nn") - col("k")).cast("double")
      val sp2 = r6(col("pool_num") / df)
      val c = lit(1.0) + (col("recip") - lit(1.0) / df) /
        (lit(3.0) * (col("k") - 1).cast("double"))
      val t = (df * r6(log(sp2)) - col("ln_terms")) / c
      agg.select(col("k"), col("nn").as("n"), sp2.as("pooled_var"),
        r6(c).as("correction_c"), r6(t).as("bartlett_t"))
    }),

    // A107: Siegel repeated-medians slope (Siegel 1982) — the
    // higher-breakdown robust regression completing A54's Theil–Sen
    // (50% breakdown vs 29%: a corrupted day poisons at most its own
    // inner median, never the outer): per day i, the inner median of
    // pairwise slopes to every other day; the slope is the OUTER
    // median of those; the intercept the median of y − slope·x. All
    // slopes are single IEEE divisions on the bit-identical daily
    // panel; medians are exact interpolations (the A54/A99 contract
    // — averaging two identical doubles is one identical IEEE op);
    // r6 only at emission. Scale: a per-type day-pair join, ≤ days²
    // rows per type (A54's bound), then ≤ days-row medians.
    "a107_siegel_slopes" -> ((s, d) => {
      val inner = slopePairs(s, d)._2
        .filter(col("x2") =!= col("x1"))
        .select(col("event_type"), col("x1"), col("y1"),
          ((col("y2") - col("y1")) / (col("x2") - col("x1"))).as("m"))
        .groupBy(col("event_type"), col("x1"), col("y1"))
        .agg(expr("percentile(m, 0.5)").as("mi"))
      val slope = inner.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          expr("percentile(mi, 0.5)").as("slope"))
      inner.join(slope, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(max(col("n_days")).as("n_days"),
          round(max(col("slope")), 6).as("slope"),
          round(expr("percentile(y1 - slope * x1, 0.5)"), 6)
            .as("intercept"))
        .orderBy("event_type")
    }),

    // A108: Page's L trend test (Page 1963) — the ORDERED
    // alternative A87's Friedman can't see: Friedman asks "do the
    // types differ at all?", Page asks "do they INCREASE in the
    // hypothesized order?" (here: alphabetical event_type order, the
    // documented a-priori ordering). L = Σ j·R_j over A87's
    // oracle-checked midrank frame — midranks are exact halves, so
    // every product and sum is exactly representable and the fold is
    // order-free; z = (L − nk(k+1)²/4)/√(nk²(k+1)(k²−1)/144), the
    // standard tie-uncorrected normal form, one fixed IEEE chain on
    // exact integers. Complete blocks only (A87's gate).
    "a108_page_trend" -> ((s, d) => {
      val ranked = friedmanRanks(s, d)
      val perType = ranked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("r")).as("rank_sum"), max(col("k")).as("k"))
      val agg = perType
        .withColumn("j", row_number().over(
          Window.orderBy("event_type")))
        .agg(max(col("k")).as("k"), max(col("n_days")).as("n"),
          sum(col("j").cast("double") * col("rank_sum")).as("l_stat"))
      agg.select(col("k"), col("n"), col("l_stat"),
        ((col("l_stat") -
          (col("n") * col("k") * (col("k") + 1) * (col("k") + 1))
            .cast("double") / 4) /
          sqrt((col("n") * col("k") * col("k") * (col("k") + 1) *
            (col("k") * col("k") - 1)).cast("double") / 144)).as("z"))
    }),

    // A109: Jonckheere–Terpstra trend test (Jonckheere 1954) — the
    // ORDERED alternative for INDEPENDENT groups, completing the
    // family the way A108 completes A87's blocked design: A73's
    // Kruskal–Wallis asks "do the type distributions differ at
    // all?", JT asks "do they SHIFT UPWARD in the hypothesized —
    // alphabetical, documented — order?". J = Σ_{g<h} U_gh with each
    // U from the Mann–Whitney midrank identity over the (g,h) union;
    // every rank quantity rides the ×2 integer grid (r2 = 2·below +
    // cnt + 1), so U2 = RS2_h − n_h(n_h+1) and J2 = ΣU2 are exact
    // BIGINTs; z is the standard tie-uncorrected normal form — one
    // fixed IEEE chain on exact integers. Scale: per-pair two-level
    // bucketed ranking (A35/A73's 1024-bucket decomposition, keyed
    // by the pair) — no global sequential window, no pair join over
    // rows; the per-value frame is |distinct values|·(k−1) rows.
    "a109_jonckheere" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      // ONE corpus pass (round 14, guide §2.4/§5): vc is checkpointed
      // and every other frame — the type list, the value range, the
      // group sizes, both pair sides — derives from it (min/max over
      // the distinct frame ≡ min/max over the corpus; Σc per type ≡
      // the per-type row count). Before: ev was scanned 4× (types,
      // vc, rng, gsz) and vc re-derived once per pair side.
      val vc = ev.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val types = vc.select(col("event_type")).distinct()
      val prs = types.select(col("event_type").as("g"))
        .join(broadcast(types.select(col("event_type").as("h"))),
          col("g") < col("h"))
      val sideG = broadcast(prs)
        .join(vc.withColumnRenamed("event_type", "g"), Seq("g"))
        .select(col("g"), col("h"), col("value"), col("c").as("cg"),
          lit(0L).as("ch"))
      val sideH = broadcast(prs)
        .join(vc.withColumnRenamed("event_type", "h"), Seq("h"))
        .select(col("g"), col("h"), col("value"), lit(0L).as("cg"),
          col("c").as("ch"))
      val rng = vc.agg(min(col("value")).as("lo"),
        max(col("value")).as("hi"))
      val perv = sideG.unionAll(sideH)
        .groupBy(col("g"), col("h"), col("value"))
        .agg(sum(col("cg")).as("kg"), sum(col("ch")).as("kh"))
        .crossJoin(broadcast(rng))
        .withColumn("bucket", rankBucket)
        .withColumn("k", col("kg") + col("kh"))
        // perv feeds BOTH offs and ranked (different column prunings,
        // so exchange reuse never fires) — one checkpoint, one pass
        .localCheckpoint()
      val wIn = Window.partitionBy("g", "h", "bucket").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wB = Window.partitionBy("g", "h").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = perv.groupBy(col("g"), col("h"), col("bucket"))
        .agg(sum(col("k")).as("bk"))
        .withColumn("off", coalesce(sum(col("bk")).over(wB), lit(0L)))
        .select(col("g"), col("h"), col("bucket"), col("off"))
      val ranked = perv
        .withColumn("cin", coalesce(sum(col("k")).over(wIn), lit(0L)))
        .join(offs, Seq("g", "h", "bucket"))
        .withColumn("r2",
          lit(2L) * (col("off") + col("cin")) + col("k") + 1)
      val per = ranked.groupBy(col("g"), col("h"))
        .agg(sum(col("kh") * col("r2")).as("rs2h"),
          sum(col("kh")).as("nh"))
        .withColumn("u2", col("rs2h") - col("nh") * (col("nh") + 1))
      val tot = per.agg(sum(col("u2")).as("j2"))
      val gsz = vc.groupBy(col("event_type"))
        .agg(sum(col("c")).as("ng"))
        .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("ng") * col("ng")).as("sn2"),
          sum(col("ng") * col("ng") * (lit(2L) * col("ng") + 3))
            .as("sn23"))
      tot.crossJoin(broadcast(gsz))
        .select(col("k"), col("n"),
          (col("j2").cast("double") / 2).as("j_stat"),
          ((col("j2").cast("double") / 2 -
            (col("n") * col("n") - col("sn2")).cast("double") / 4) /
            sqrt((col("n") * col("n") * (lit(2L) * col("n") + 3) -
              col("sn23")).cast("double") / 72)).as("z"))
    }),

    // A110: Cochran–Armitage trend test (Cochran 1954, Armitage
    // 1955) — the BINARY-outcome trend completing the ordered family
    // (A108 = blocked ranks, A109 = independent ranks, A110 =
    // proportions): does the up-day RATE increase across the types
    // in the hypothesized — alphabetical, documented — order?
    // Per type: n_j = days with a defined daily move, r_j = up days
    // (exact integer cells from the bit-identical daily panel);
    // scores w_j = j; T = Σ j·r_j − p̄·Σ j·n_j and z = T/√(p̄(1−p̄)·
    // (Σ j²n_j − (Σ j·n_j)²/N)) — one fixed IEEE chain on exact
    // BIGINTs. The j election is a row_number over the ≤k per-type
    // frame (the A108 allowlisted shape).
    "a110_cochran_armitage" -> ((s, d) => {
      val wT = Window.partitionBy("event_type").orderBy("day")
      val daily = dailyMean(Tables.events(s, d), "px")
        .withColumn("delta", col("px") - lag(col("px"), 1).over(wT))
        .filter(col("delta").isNotNull)
      val perType = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nj"),
          sum(when(col("delta") > 0, 1L).otherwise(0L)).as("rj"))
      val agg = perType
        .withColumn("j", row_number().over(Window.orderBy("event_type")))
        .agg(count(lit(1)).as("k"), sum(col("nj")).as("n"),
          sum(col("rj")).as("r"),
          sum(col("j") * col("rj")).as("sjr"),
          sum(col("j") * col("nj")).as("sjn"),
          sum(col("j") * col("j") * col("nj")).as("sj2n"))
      val pbar = col("r").cast("double") / col("n").cast("double")
      val t = col("sjr").cast("double") - pbar * col("sjn").cast("double")
      val v = pbar * (lit(1.0) - pbar) *
        (col("sj2n").cast("double") -
          (col("sjn") * col("sjn")).cast("double") /
            col("n").cast("double"))
      agg.select(col("k"), col("n"), col("r"), t.as("trend_t"),
        // v = 0 when pbar ∈ {0, 1} (no successes / all successes —
        // the flat-corpus case): z undefined, NULL not an ANSI throw
        // (mirrored in the oracle)
        when(v > 0, t / sqrt(v)).as("z"))
    }),

    // A111: Ansari–Bradley scale test (Ansari & Bradley 1960) — the
    // DISPERSION twin of A35's location test on the same two groups:
    // same medians but different spread is invisible to Mann–Whitney
    // (and to A74's variance tests when tails are heavy); AB scores
    // each observation by its distance from the rank EDGES, a_i =
    // min(rank_i, N+1−rank_i), small at the extremes. Rides A35's
    // bucketed two-level midrank decomposition on the ×2 integer
    // grid: a2 = min(r2, 2(N+1)−r2) is an exact BIGINT per value,
    // AB2 = Σ k₁·a2 exact, and the even/odd-N null moments are each
    // one fixed IEEE chain on exact integers (tie-uncorrected
    // standard form, the A108/A109 convention).
    "a111_ansari_bradley" -> ((s, d) => {
      val (spine, bounds) = midrankSpine(s, d)
      val agg = spine
        .crossJoin(broadcast(bounds.select(
          (col("n1") + col("n2")).as("nn"))))
        .withColumn("r2",
          lit(2L) * (col("off") + col("cin")) + col("k") + 1)
        .withColumn("a2",
          least(col("r2"), lit(2L) * (col("nn") + 1) - col("r2")))
        .agg(sum(col("k1") * col("a2")).as("ab2"))
      agg.crossJoin(broadcast(bounds.select(col("n1"), col("n2"))))
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("ab", col("ab2").cast("double") / 2)
        .withColumn("mean",
          when(col("n") % 2 === 0,
            (col("n1") * (col("n") + 2)).cast("double") / 4)
          .otherwise((col("n1") * (col("n") + 1) * (col("n") + 1))
            .cast("double") / (lit(4L) * col("n")).cast("double")))
        .withColumn("variance",
          when(col("n") % 2 === 0,
            (col("n1") * col("n2")).cast("double") *
              ((col("n") + 2) * (col("n") - 2)).cast("double") /
              (lit(48L) * (col("n") - 1)).cast("double"))
          .otherwise(
            (col("n1") * col("n2")).cast("double") *
              ((col("n") + 1)).cast("double") *
              (lit(3L) + col("n") * col("n")).cast("double") /
              (lit(48L) * col("n") * col("n")).cast("double")))
        .select(col("n1"), col("n2"), col("ab"),
          ((col("ab") - col("mean")) / sqrt(col("variance"))).as("z"))
    }),

    // A112: two-sample Cramér–von Mises — the WHOLE-CURVE distance
    // between the click and purchase ECDFs, where A33's KS reads
    // only the single worst gap: T = (n₁n₂/N²)·Σ_z k_z·(F(z)−G(z))²
    // over every combined observation (tie-weighted discrete form).
    // The integer core: at each distinct value the scaled gap
    // d = n₂·c₁ − n₁·c₂ is an exact BIGINT (|d| ≤ n₁n₂), so the
    // numerator Σ k·d² accumulates on the integer grid — in
    // DECIMAL(38,0) here and HUGEINT in the oracle, because d² alone
    // reaches ~1e17 at sf0.1 and the sum passes BIGINT — and T is
    // ONE division of that exact integer (correctly-rounded to
    // double on both engines via the VARCHAR hop) by the pinned
    // (n₁n₂)·N² double product. Same bucketed two-level cumulative
    // as A33/A35 — no global sort, no p-value (the limiting CvM
    // distribution has no elementary series; the STATISTIC is the
    // deliverable, fully hash-checked).
    "a112_cramer_von_mises" -> ((s, d) => {
      cvmSpine(s, d)._1
        .withColumn("term",
          col("dd").cast("decimal(20,0)") * col("dd") *
            (col("k1") + col("k2")))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          sum(col("term")).as("num"))
        .select(col("n1"), col("n2"),
          // ANSI throws on ANY /0 (even double): an empty comparison
          // group -> NULL statistic (a two-sample test needs two
          // samples; spec: StatsDegenerateSpec)
          when(col("n1") > 0 && col("n2") > 0,
            col("num").cast("double") /
              ((col("n1") * col("n2")).cast("double") *
                ((col("n1") + col("n2")) * (col("n1") + col("n2")))
                  .cast("double"))).as("cvm_t"))
    }),

    // A113: Kuiper's test — the rotation-invariant KS variant that
    // weighs BOTH tails equally: V = D⁺ + D⁻ (the largest ECDF gap
    // above plus the largest below), the standard choice when a
    // shift in EITHER direction matters symmetrically (and, on
    // circular/periodic data, the only one of the two that is
    // origin-free). Shares A112's integer spine: D⁺ = max(0, max d)
    // and D⁻ = max(0, −min d) are exact BIGINT extreme picks over
    // the same d = n₂·c₁ − n₁·c₂ grid (the 0 clamps are the
    // before-first-jump baseline where F = G = 0), and each output
    // is one exact-integer-to-double division by n₁n₂ — raw doubles,
    // fully hash-checked.
    "a113_kuiper" -> ((s, d) => {
      cvmSpine(s, d)._1
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          greatest(max(col("dd")), lit(0L)).as("dmax"),
          (-least(min(col("dd")), lit(0L))).as("dmin"))
        .select(col("n1"), col("n2"),
          // empty group -> NULL (the a112 ANSI guard)
          when(col("n1") > 0 && col("n2") > 0,
            col("dmax").cast("double") /
              (col("n1") * col("n2")).cast("double")).as("d_plus"),
          when(col("n1") > 0 && col("n2") > 0,
            col("dmin").cast("double") /
              (col("n1") * col("n2")).cast("double")).as("d_minus"),
          when(col("n1") > 0 && col("n2") > 0,
            (col("dmax") + col("dmin")).cast("double") /
              (col("n1") * col("n2")).cast("double")).as("kuiper_v"))
    }),

    // A114: two-sample Anderson–Darling (Scholz & Stephens 1987,
    // tie-adjusted midrank form A²akN, k = 2) — completes the GoF
    // triple: KS reads the worst ECDF gap (A33), CvM the whole curve
    // evenly (A112), AD the whole curve with 1/(F(1−F)) tail
    // weighting — the standard pick when distributional differences
    // hide in the tails. The midrank quantities ride the ×2 integer
    // grid (A111's trick): B2 = 2c − l and M2ᵢ = 2cᵢ − kᵢ are exact
    // BIGINTs per distinct value, the quarter-grid halves cancel
    // algebraically, and each term lⱼ·(N·M2ᵢ − nᵢ·B2)²/(B2(2N−B2) −
    // N·l) has an exact-integer numerator (DECIMAL(38,0)/HUGEINT —
    // the square passes BIGINT at sf0.1) over a positive exact-BIGINT
    // denominator (l(N−l) at the extremes, larger between). Each
    // term's integer→double conversions are correctly rounded on
    // both engines, the division is one IEEE op, terms are r6'd into
    // a decimal-pinned order-free sum, and A² is one fixed chain.
    // No p twin: the standardization needs the O(N²) pairwise g
    // fold and table interpolation — the STATISTIC is the
    // deliverable, fully hash-checked.
    "a114_anderson_darling" -> ((s, d) => {
      cvmSpine(s, d)._1
        .withColumn("nn", col("n1") + col("n2"))
        .withColumn("l", col("k1") + col("k2"))
        .withColumn("b2", lit(2L) * (col("c1") + col("c2")) - col("l"))
        .withColumn("den",
          (col("b2") * (lit(2L) * col("nn") - col("b2")) -
            col("nn") * col("l")).cast("double"))
        .withColumn("num1",
          col("nn") * (lit(2L) * col("c1") - col("k1")) -
            col("n1") * col("b2"))
        .withColumn("num2",
          col("nn") * (lit(2L) * col("c2") - col("k2")) -
            col("n2") * col("b2"))
        // den = 0 only at a fully-degenerate single-distinct-value
        // sample (l = N), where both numerators are identically 0 —
        // resolve the 0/0 to a 0 term (the NaN would otherwise throw
        // in the decimal-pinned sum under ANSI; degenerate-fixture
        // spec: StatsDegenerateSpec)
        .withColumn("t1",
          when(col("den") > 0,
            r6((col("num1").cast("decimal(19,0)") * col("num1") * col("l"))
              .cast("double") / col("den"))).otherwise(lit(0.0d)))
        .withColumn("t2",
          when(col("den") > 0,
            r6((col("num2").cast("decimal(19,0)") * col("num2") * col("l"))
              .cast("double") / col("den"))).otherwise(lit(0.0d)))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          dsum(col("t1")).as("s1"),
          dsum(col("t2")).as("s2"))
        .select(col("n1"), col("n2"),
          // empty group -> NULL (the a112 ANSI guard)
          when(col("n1") > 0 && col("n2") > 0,
            ((col("n1") + col("n2") - 1).cast("double") /
              ((col("n1") + col("n2")) * (col("n1") + col("n2")))
                .cast("double")) *
              (col("s1") / col("n1").cast("double") +
               col("s2") / col("n2").cast("double"))).as("a2_akn"))
    }),

    // A115: Hellinger distance + Bhattacharyya coefficient — the
    // BOUNDED drift metrics beside A71's unbounded PSI on the
    // identical drift frame (same two periods, same 10 fixed-width
    // bins over the exact global [min,max], same Laplace smoothing,
    // same complete type × bin spine): BC = Σ√(p_a·p_b) ∈ (0,1]
    // reads as overlap mass, H = √(1−BC) ∈ [0,1) is a true metric
    // (PSI is neither bounded nor symmetric-scaled), B = −ln BC the
    // exponent large-deviation theory wants. Per-bin terms are one
    // sqrt over two exact-integer-derived doubles, rounded THEN
    // decimal-summed (the A48/A71 fold discipline); the 1−BC
    // argument is 0-clamped (r6 per-term can push a perfect overlap
    // a hair past 1). Scale: A71's one-pass conditional-count hash
    // agg; everything after runs on ≤|types|·10 rows.
    "a115_hellinger" -> ((s, d) => {
      driftBins(s, d)
        .withColumn("term", round(sqrt(col("pa") * col("pb")), 6))
        .groupBy(col("event_type"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          sum(col("term").cast("decimal(24,10)")).cast("double").as("bc"))
        .select(col("event_type"), col("n_a"), col("n_b"), col("bc"),
          // bc is the same correctly-rounded decimal render on both
          // engines; 1−bc and the IEEE-exact sqrt stay raw, only the
          // libm ln gets the round6 discipline (the a33 convention).
          // Both bc-near-1 clamps are mirrored: per-term r6 rounding
          // can push bc a hair past 1, which would take hellinger's
          // sqrt negative (the greatest guard) AND −ln(bc) below the
          // documented B ≥ 0 bound (the least guard).
          sqrt(greatest(lit(0.0), lit(1.0) - col("bc"))).as("hellinger"),
          r6(-log(least(col("bc"), lit(1.0)))).as("bhattacharyya"))
        .orderBy("event_type")
    }),

    // A93: Wilcoxon signed-rank — the one-sample rank twin of A35's
    // Mann–Whitney: is the median daily close move zero, per type?
    // Zero deltas drop (Wilcoxon's convention), |Δ| gets MIDRANKS
    // carried as the exact integer rank2 = 2·rank + t_eq − 1 (twice
    // the midrank — the ×2 trick that keeps every rank quantity on
    // the integer grid through the sums), W⁺ = Σ rank2[Δ>0]/2, and
    // the tie-corrected normal z is ONE fixed IEEE chain from four
    // integer totals: z = (2W₂ − n(n+1))/4 ÷ √((2n(n+1)(2n+1) −
    // Σ(t³−t))/48), with Σ(t³−t) summed per-row as t_eq² − 1.
    // Determinism: integers until the final two divisions + sqrt.
    "a93_wilcoxon_signed" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val ranked = candles(s, d)
        .withColumn("dd", col("close") - lag(col("close"), 1).over(wd))
        .filter(col("dd").isNotNull && col("dd") =!= 0.0d)
        .withColumn("ad", abs(col("dd")))
        .withColumn("rk",
          rank().over(Window.partitionBy("event_type").orderBy("ad")))
        .withColumn("teq",
          count(lit(1)).over(Window.partitionBy("event_type", "ad")))
        .withColumn("rank2", lit(2L) * col("rk") + col("teq") - 1)
      ranked.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("dd") > 0, col("rank2")).otherwise(0L)).as("w2"),
          sum(col("teq") * col("teq") - 1).as("tcorr"))
        .select(col("event_type"), col("n"),
          (col("w2").cast("double") / 2).as("w_plus"),
          (((lit(2L) * col("w2") - col("n") * (col("n") + 1))
            .cast("double") / 4) /
            sqrt((lit(2L) * col("n") * (col("n") + 1) *
              (lit(2L) * col("n") + 1) - col("tcorr")).cast("double") / 48))
            .as("z"))
        .orderBy("event_type")
    }),

    // A94: Kendall's τ-b between daily close and volume, per type —
    // the third rank-correlation lens next to A43's Spearman ρ and
    // A66's grid twin: τ counts pairwise ORDER agreements, so it is
    // integer-exact by construction and robust where Spearman's
    // squared rank gaps overweight far-apart ties. All C(D,2) day
    // pairs per type via one equi-join on the type key (the a54
    // Theil–Sen shape — O(days²) per type over the BOUNDED panel
    // dimension, not the corpus; days don't grow with SF), then one
    // hash agg to the five integer pair counts and τ-b = (C−D)/
    // √((n₀−tx)(n₀−ty)) as one fixed IEEE chain. Strict-both pairs
    // count C/D; tx/ty count ALL x-ties / y-ties (both-tied pairs
    // land in both, per the τ-b definition).
    "a94_kendall_tau" -> ((s, d) => {
      dayPairCounts(s, d)
        .filter(col("n0") > col("tx") && col("n0") > col("ty"))
        .select(col("event_type"), col("n0"), col("conc"), col("disc"),
          col("tx"), col("ty"),
          ((col("conc") - col("disc")).cast("double") /
            sqrt((col("n0") - col("tx")).cast("double") *
              (col("n0") - col("ty")).cast("double"))).as("tau_b"))
        .orderBy("event_type")
    }),

    // A95: Mood's median test — do the k series share one median
    // daily close? Pool ALL closes, take the grand median (exact
    // interpolated percentile, identical on both engines), count
    // above/below per type (exact-equal rows drop, the a90
    // convention), and report each type's 2-cell χ² CONTRIBUTION
    // rather than one cross-type sum — per-type rows keep every
    // arithmetic chain fixed-shape per row (a cross-group float sum
    // would be summation-order-sensitive; the integers A/B/N it
    // would need are returned alongside, so the caller can fold).
    // Expected counts are one division from integers (< 2^53 exact).
    "a95_mood_median" -> ((s, d) => {
      val closes = candles(s, d)
      val med = closes.agg(expr("percentile(close, 0.5)").as("med"))
      val counts = closes.crossJoin(broadcast(med))
        .filter(col("close") =!= col("med"))
        .groupBy("event_type")
        .agg(sum((col("close") > col("med")).cast("long")).as("n_above"),
          sum((col("close") < col("med")).cast("long")).as("n_below"))
      val tot = counts.agg(sum(col("n_above")).as("ta"),
        sum(col("n_below")).as("tb"),
        sum(col("n_above") + col("n_below")).as("nn"))
      counts.crossJoin(broadcast(tot))
        .withColumn("ng", col("n_above") + col("n_below"))
        .withColumn("ea",
          (col("ng") * col("ta")).cast("double") / col("nn"))
        .withColumn("eb",
          (col("ng") * col("tb")).cast("double") / col("nn"))
        .select(col("event_type"), col("n_above"), col("n_below"),
          col("ta"), col("tb"), col("ea").as("exp_above"),
          ((col("n_above") - col("ea")) * (col("n_above") - col("ea")) /
            col("ea") +
           (col("n_below") - col("eb")) * (col("n_below") - col("eb")) /
            col("eb")).as("chi2_contrib"))
        .orderBy("event_type")
    }),

    // A96: sign test on daily close moves — is the median move zero,
    // per type, using ONLY signs (the assumption-free floor under
    // A93's signed-rank)? Zero deltas drop; S⁺/S⁻ are integer
    // counts; the continuity-corrected normal z is
    // (2S⁺ − n − sgn(2S⁺ − n))/√n — an INTEGER numerator (the ×2
    // trick dodges the n/2 half-grid entirely) over one sqrt.
    "a96_sign_test" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      candles(s, d)
        .withColumn("dd", col("close") - lag(col("close"), 1).over(wd))
        .filter(col("dd").isNotNull && col("dd") =!= 0.0d)
        .groupBy("event_type")
        .agg(sum(when(col("dd") > 0, 1L).otherwise(0L)).as("s_pos"),
          sum(when(col("dd") < 0, 1L).otherwise(0L)).as("s_neg"))
        .withColumn("n", col("s_pos") + col("s_neg"))
        .withColumn("num2", lit(2L) * col("s_pos") - col("n"))
        .select(col("event_type"), col("s_pos"), col("s_neg"), col("n"),
          ((col("num2") - signum(col("num2")).cast("long"))
            .cast("double") / sqrt(col("n").cast("double"))).as("z_cc"))
        .orderBy("event_type")
    }),

    // A97: Cliff's delta between click and purchase values — the
    // nonparametric EFFECT SIZE beside A35's Mann–Whitney decision:
    // δ = (#(x>y) − #(x<y))/(n₁n₂), computed from the SAME rank-sum
    // frame (never the n₁·n₂ pair materialization — the rank path is
    // the 100 TB shape): δ = (2R₁ − n₁(n₁+1) − n₁n₂)/(n₁n₂) where
    // 2R₁ stays on the ×2 integer grid (midranks are half-integers),
    // so the numerator is an exact BIGINT and δ is ONE division. The
    // magnitude label compares |numerator|·1000 against Romano's
    // thresholds ×(n₁n₂·1000) cross-multiplied in integers — no
    // float boundary can flip a label.
    "a97_cliffs_delta" -> ((s, d) => {
      val (spine, bounds) = midrankSpine(s, d)
      val r2 = spine
        // ×2 rank-sum contribution: k1 rows at midrank off+cin+(k+1)/2
        // stay on the integer grid as k1·(2·(off+cin) + k + 1)
        .withColumn("r2c",
          col("k1") * (lit(2L) * (col("off") + col("cin")) +
            col("k") + 1))
      val agg = r2.agg(sum(col("r2c")).as("r1x2"))
      agg.crossJoin(broadcast(bounds.select(col("n1"), col("n2"))))
        .withColumn("num",
          col("r1x2") - col("n1") * (col("n1") + 1) - col("n1") * col("n2"))
        .withColumn("den", col("n1") * col("n2"))
        .select(col("n1"), col("n2"),
          (col("num").cast("double") / col("den").cast("double"))
            .as("cliffs_delta"),
          when(abs(col("num")) * 1000 < col("den") * 147, "negligible")
            .when(abs(col("num")) * 1000 < col("den") * 330, "small")
            .when(abs(col("num")) * 1000 < col("den") * 474, "medium")
            .otherwise("large").as("magnitude"))
    }),

    // A98: Goodman–Kruskal γ and both Somers' D asymmetries over
    // A94's five-integer pair-count frame (plus the both-tied count
    // that separates x-only from y-only ties): γ = (C−D)/(C+D)
    // ignores all ties; D_yx = (C−D)/(n₀−tx) penalizes y-ties
    // (x the predictor); D_xy the transpose. Each is ONE division
    // from exact integers — the τ-b lens family completed.
    "a98_gamma_somers" -> ((s, d) => {
      dayPairCounts(s, d)
        .filter(col("conc") + col("disc") > 0 &&
          col("n0") > col("tx") && col("n0") > col("ty"))
        .select(col("event_type"), col("n0"), col("conc"), col("disc"),
          col("tx"), col("ty"),
          ((col("conc") - col("disc")).cast("double") /
            (col("conc") + col("disc")).cast("double")).as("gamma"),
          ((col("conc") - col("disc")).cast("double") /
            (col("n0") - col("tx")).cast("double")).as("d_yx"),
          ((col("conc") - col("disc")).cast("double") /
            (col("n0") - col("ty")).cast("double")).as("d_xy"))
        .orderBy("event_type")
    })
  )

  /** A92/A102/A119 oracle CTEs: `CloseVolCtes`, then `p` (each day's
    * close and volume beside the previous day's, pc/pv) and `f` (the
    * up-price x and up-volume y flags of every day with a previous
    * day). */
  private val UpDownCtes: String =
    s"""$CloseVolCtes,
         p AS (
           SELECT event_type, day, close, vol,
                  lag(close) OVER w AS pc, lag(vol) OVER w AS pv
           FROM c WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         f AS (
           SELECT event_type,
                  CAST(close > pc AS BIGINT) AS x,
                  CAST(vol > pv AS BIGINT) AS y
           FROM p WHERE pc IS NOT NULL)"""

  /** A94/A98 oracle CTEs, twin of [[dayPairCounts]]: `CloseVolCtes`,
    * the (close, vol) pairs of every two days of a type `p`, and `agg`
    * with their exact counts n0, conc, disc, tx, ty per type. */
  private val DayPairCtes: String =
    s"""$CloseVolCtes,
         p AS (
           SELECT a.event_type,
                  a.close AS xa, a.vol AS ya,
                  b.close AS xb, b.vol AS yb
           FROM c a JOIN c b ON a.event_type = b.event_type
                            AND a.day < b.day),
         agg AS (
           SELECT event_type, count(*) AS n0,
                  CAST(sum(CASE WHEN (xa < xb AND ya < yb)
                                  OR (xa > xb AND ya > yb)
                                THEN 1 ELSE 0 END) AS BIGINT) AS conc,
                  CAST(sum(CASE WHEN (xa < xb AND ya > yb)
                                  OR (xa > xb AND ya < yb)
                                THEN 1 ELSE 0 END) AS BIGINT) AS disc,
                  CAST(sum(CASE WHEN xa = xb THEN 1 ELSE 0 END)
                       AS BIGINT) AS tx,
                  CAST(sum(CASE WHEN ya = yb THEN 1 ELSE 0 END)
                       AS BIGINT) AS ty
           FROM p GROUP BY 1)"""

  /** A87/A101/A108 oracle CTEs `cell → kk → full_days → ranked`: the
    * pinned (day, type) means and, on complete days only, each type's
    * midrank among that day's means ([[friedmanRanks]]'s frame). */
  private val friedmanCtes: String =
    """cell AS (
           SELECT date_trunc('day', ts) AS day, event_type,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS y
           FROM events GROUP BY 1, 2),
         kk AS (SELECT count(DISTINCT event_type) AS k FROM cell),
         full_days AS (
           SELECT day FROM cell, kk GROUP BY day, kk.k
           HAVING count(*) = max(kk.k)),
         ranked AS (
           SELECT c.day, c.event_type, kk.k,
                  rank() OVER (PARTITION BY c.day ORDER BY c.y) +
                    CAST(count(*) OVER (PARTITION BY c.day, c.y) - 1
                         AS DOUBLE) / 2 AS r
           FROM cell c JOIN full_days f ON c.day = f.day
           CROSS JOIN kk)"""

  /** A87/A101 oracle CTEs: `friedmanCtes`, then `per_type` (each
    * type's rank sums over the complete days) and `tot` (Friedman's Q
    * numerator num and denominator den, beside each type's row). */
  private val FriedmanQCtes: String =
    s"""$friedmanCtes,
         per_type AS (
           SELECT event_type, count(*) AS n_days, sum(r) AS rank_sum,
                  sum(r * r) AS rsq_sum, max(k) AS k
           FROM ranked GROUP BY 1),
         withn AS (
           SELECT event_type, n_days, k, rank_sum, rsq_sum,
                  max(n_days) OVER () AS n
           FROM per_type),
         tot AS (
           SELECT event_type, n_days, k, rank_sum,
                  sum((rank_sum - n * CAST(k + 1 AS DOUBLE) / 2) *
                      (rank_sum - n * CAST(k + 1 AS DOUBLE) / 2))
                    OVER () AS num,
                  sum(rsq_sum) OVER () -
                    n * k * CAST(k + 1 AS DOUBLE) * (k + 1) / 4 AS den
           FROM withn)"""

  /** A3/A4 oracle CTEs: the daily mean `daily`, its next three days
    * `leads`, and `grid` (corr and count of each lead k = 1..3 per
    * type). */
  private val CorrGridCtes: String =
    """daily AS (
           SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS v
           FROM events GROUP BY 1, 2),
         leads AS (
           SELECT event_type, day, v,
                  lead(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
                  lead(v, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
                  lead(v, 3) OVER (PARTITION BY event_type ORDER BY day) AS l3
           FROM daily),
         grid AS (
           SELECT event_type, k, corr(v, fwd) AS c, count(fwd) AS n FROM (
             SELECT event_type, v, 1 AS k, l1 AS fwd FROM leads
             UNION ALL
             SELECT event_type, v, 2 AS k, l2 AS fwd FROM leads
             UNION ALL
             SELECT event_type, v, 3 AS k, l3 AS fwd FROM leads)
           GROUP BY 1, 2)"""

  /** A41/A44 oracle CTEs: the (event_type, weekday) contingency
    * `obs`, its margins `rt`/`ct`/`tot`, and `grid` (every cell's
    * count n, 0 where empty, and its expected count). */
  private val ChiGridCtes: String =
    """base AS (
           SELECT event_type, dayofweek(ts) + 1 AS dow FROM events),
         obs AS (
           SELECT event_type, dow, count(*) AS n FROM base GROUP BY 1, 2),
         rt AS (SELECT event_type, sum(n) AS rt FROM obs GROUP BY 1),
         ct AS (SELECT dow, sum(n) AS ct FROM obs GROUP BY 1),
         tot AS (SELECT sum(n) AS t FROM obs),
         grid AS (
           SELECT r.event_type, c.dow, coalesce(o.n, 0) AS n,
                  CAST(r.rt AS DOUBLE) * c.ct / tot.t AS expected
           FROM rt r CROSS JOIN ct c
                LEFT JOIN obs o ON o.event_type = r.event_type
                              AND o.dow = c.dow, tot)"""

  /** A46/A63 oracle CTEs: the dumped A3 p-values `pv` and `r` (their
    * count m and ascending rank rnk). */
  private val PRankCtes: String =
    s"""pv AS (SELECT * FROM '${Dumps.oraclePath("a3_pvalues")}/*.parquet'),
         r AS (
           SELECT *, count(*) OVER () AS m,
                  row_number() OVER (ORDER BY p_value, event_type, k)
                    AS rnk
           FROM pv)"""

  /** A45/A70 oracle CTE `agg`: the click and purchase counts n1/n2
    * and their counts above 50, x1/x2. */
  private val TwoPropCte: String =
    """agg AS (
           SELECT sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS n1,
                  sum(CASE WHEN event_type = 'click' AND value > 50
                           THEN 1 ELSE 0 END) AS x1,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS n2,
                  sum(CASE WHEN event_type = 'purchase' AND value > 50
                           THEN 1 ELSE 0 END) AS x2
           FROM events WHERE event_type IN ('click', 'purchase'))"""

  /** A10/A11/A12/A14 oracle CTEs: the daily order revenue `day` and
    * `rets` (each day's revenue and its return on the day before). */
  private val OrderRetCtes: String =
    """day AS (
           SELECT date_trunc('day', o_orderdate) AS day, sum(o_totalprice) AS rev
           FROM orders GROUP BY 1),
         rets AS (
           SELECT day, rev, rev / prev - 1 AS r FROM (
             SELECT day, rev, lag(rev, 1) OVER (ORDER BY day) AS prev FROM day)
           WHERE prev IS NOT NULL)"""

  /** A67/A120 oracle CTEs: per type the count n (and as a double, nd)
    * and the decimal-pinned raw moments `agg`, then the central
    * moments m2..m4 `m`. */
  private val MomentCtes: String =
    """agg AS (
           SELECT event_type, count(*) AS n,
                  CAST(count(*) AS DOUBLE) AS nd,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS mu,
                  CAST(CAST(sum(CAST(value * value AS DECIMAL(28,8)))
                       AS VARCHAR) AS DOUBLE) / count(*) AS r2,
                  CAST(CAST(sum(CAST(value * value * value
                       AS DECIMAL(32,6))) AS VARCHAR) AS DOUBLE)
                    / count(*) AS r3,
                  CAST(CAST(sum(CAST(value * value * value * value
                       AS DECIMAL(36,4))) AS VARCHAR) AS DOUBLE)
                    / count(*) AS r4
           FROM events GROUP BY 1),
         m AS (
           SELECT event_type, n, nd,
                  r2 - mu * mu AS m2,
                  r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
                  r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                     - 3.0 * mu * mu * mu * mu AS m4
           FROM agg)"""

  /** A51 oracle, GENERATED per block size so both engines run the
    * identical decimal-pinned window arithmetic (the W12/W20 emission
    * pattern — one source of truth for the constants). */
  private def hurstOracleSql: String = {
    val ks = Seq(4, 8, 16)
    def perK(k: Int) = s"""
         b$k AS (
           SELECT event_type, rn // $k AS blk, rn, v,
                  count(*) OVER (PARTITION BY event_type, rn // $k)
                    AS nb
           FROM r),
         c$k AS (
           SELECT event_type, blk, rn, v,
                  CAST(CAST(sum(CAST(v AS DECIMAL(30,12))) OVER
                       (PARTITION BY event_type, blk) AS VARCHAR)
                       AS DOUBLE) / $k AS mu,
                  CAST(CAST(sum(CAST(v AS DECIMAL(30,12))) OVER
                       (PARTITION BY event_type, blk ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                        ROW) AS VARCHAR) AS DOUBLE) AS cs,
                  CAST(CAST(sum(CAST(v * v AS DECIMAL(30,12))) OVER
                       (PARTITION BY event_type, blk) AS VARCHAR)
                       AS DOUBLE) / $k AS m2
           FROM b$k WHERE nb = $k),
         z$k AS (
           SELECT event_type, blk,
                  cs - (rn % $k + 1) * mu AS z,
                  m2 - mu * mu AS s2
           FROM c$k),
         rs$k AS (
           SELECT event_type, blk,
                  (max(z) - min(z)) / sqrt(max(s2)) AS rs
           FROM z$k WHERE s2 > 0 GROUP BY 1, 2),
         mk$k AS (
           SELECT event_type,
                  CAST(CAST(sum(CAST(rs AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS mean_rs,
                  count(*) AS n_blocks, $k AS k
           FROM rs$k GROUP BY 1)"""
    val union = ks.map(k => s"SELECT * FROM mk$k").mkString(
      "\n           UNION ALL ")
    s"""WITH ${dailyMeanCte("daily", "v")},
         r AS (
           SELECT event_type, v,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY day) - 1 AS rn
           FROM daily),
         ${ks.map(perK).mkString(",")},
         pts AS (
           SELECT event_type, ln(CAST(k AS DOUBLE)) AS x,
                  ln(mean_rs) AS y, n_blocks
           FROM ($union)),
         ols AS (
           SELECT event_type,
                  CAST(count(*) AS DOUBLE) AS m,
                  CAST(CAST(sum(CAST(x AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS sx,
                  CAST(CAST(sum(CAST(y AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(x * x AS DECIMAL(30,12)))
                       AS VARCHAR) AS DOUBLE) AS sxx,
                  CAST(CAST(sum(CAST(x * y AS DECIMAL(30,12)))
                       AS VARCHAR) AS DOUBLE) AS sxy,
                  CAST(sum(n_blocks) AS BIGINT) AS n_blocks_total
           FROM pts GROUP BY 1)
         SELECT event_type,
                round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6)
                  AS hurst,
                n_blocks_total
         FROM ols ORDER BY event_type"""
  }

  /** Benford expectations emitted as 17-digit e-notation literals —
    * DuckDB parses back the exact Scala doubles (the W12 pattern). */
  private def benfordLits: String =
    (1 to 9).map(dd => "%.17e".formatLocal(java.util.Locale.ROOT,
      math.log10(1.0 + 1.0 / dd))).mkString("[", ", ", "]")

  /** Oracle twin of `slopePairs`' panel: CTE `dly` with the pinned
    * daily mean y and the double day index x. */
  private val SlopePanelCte =
    """dly AS (
           SELECT event_type,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS y,
                  CAST(datediff('day', DATE '2024-01-01',
                       date_trunc('day', ts)) AS DOUBLE) AS x
           FROM events GROUP BY event_type, date_trunc('day', ts))"""

  /** Oracle twin of `trendPanel` + `trendSums`: CTEs `dly`, `xy` (the
    * panel) and `co` (the per-type OLS co-moments). */
  private val TrendCtes =
    s"""${dailyMeanCte("dly", "y")},
         xy AS (
           SELECT event_type, day, y,
                  datediff('day', DATE '2024-01-01', day) AS x
           FROM dly),
         co AS (
           SELECT event_type, count(*) AS n,
                  sum(x) AS sx, sum(x * x) AS sxx,
                  CAST(CAST(sum(CAST(y AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(x * y AS DECIMAL(28,8))) AS VARCHAR)
                       AS DOUBLE) AS sxy
           FROM xy GROUP BY 1)"""

  /** Oracle twin of `kwGroupRanks`: the two-level bucket midranks
    * (2× integers) `ranks`, per-group `g` (n_g, rs2) and the tie term
    * `tt` (t3). */
  private val KwRankCtes =
    """ev AS (SELECT event_type, value FROM events
                     WHERE value IS NOT NULL),
         rng AS (SELECT min(value) AS vmin, max(value) AS vmax FROM ev),
         vc AS (SELECT value, event_type, count(*) AS c
                FROM ev GROUP BY 1, 2),
         vt0 AS (SELECT value, CAST(sum(c) AS BIGINT) AS cnt
                 FROM vc GROUP BY 1),
         vt AS (SELECT value, cnt,
                       least(CAST(floor((value - vmin) / (vmax - vmin)
                             * 1000) AS BIGINT), 999) AS bucket
                FROM vt0, rng),
         bt AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS bcnt
                FROM vt GROUP BY 1),
         bb AS (SELECT bucket,
                       coalesce(sum(bcnt) OVER (ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING AND
                         1 PRECEDING), 0) AS bbelow
                FROM bt),
         ranks AS (
           SELECT v.value, v.cnt,
                  2 * (b.bbelow + coalesce(sum(v.cnt) OVER (
                    PARTITION BY v.bucket ORDER BY v.value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0)) + v.cnt + 1 AS r2
           FROM vt v JOIN bb b ON v.bucket = b.bucket),
         g AS (
           SELECT event_type, CAST(sum(c) AS BIGINT) AS n_g,
                  CAST(sum(c * r.r2) AS BIGINT) AS rs2
           FROM vc JOIN ranks r ON vc.value = r.value GROUP BY 1),
         tt AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS t3
                FROM ranks)"""

  /** Oracle twin of `driftBins`: CTE `terms` with each (event_type,
    * bin)'s Laplace-smoothed period shares pa/pb and the period sizes
    * na/nb. */
  private val DriftBinCtes =
    """rng AS (SELECT min(value) AS vmin, max(value) AS vmax
                      FROM events),
         binned AS (
           SELECT event_type,
                  least(CAST(floor((value - vmin) / (vmax - vmin) * 10)
                        AS BIGINT), 9) AS bin,
                  CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                       THEN 1 ELSE 0 END AS in_a
           FROM events, rng),
         counts AS (
           SELECT event_type, bin, sum(in_a) AS ca,
                  sum(1 - in_a) AS cb
           FROM binned GROUP BY 1, 2),
         spine AS (
           SELECT DISTINCT event_type, g.b AS bin
           FROM counts, generate_series(0, 9) AS g(b)),
         tot AS (
           SELECT event_type, sum(ca) AS na, sum(cb) AS nb
           FROM counts GROUP BY 1),
         terms AS (
           SELECT s.event_type, t.na, t.nb,
                  CAST(coalesce(c.ca, 0) + 1 AS DOUBLE) /
                    CAST(t.na + 10 AS DOUBLE) AS pa,
                  CAST(coalesce(c.cb, 0) + 1 AS DOUBLE) /
                    CAST(t.nb + 10 AS DOUBLE) AS pb
           FROM spine s
           LEFT JOIN counts c
             ON s.event_type = c.event_type AND s.bin = c.bin
           JOIN tot t ON s.event_type = t.event_type)"""

  /** Oracle twin of `oneWay`: CTEs `g` (per-group pinned sums of `v`
    * over `from`), `f` (the ordered list folds) and `c` (ssb, ssw). */
  private def oneWayCtes(v: String, from: String): String =
    s"""g AS (
           SELECT event_type, count(*) AS n_g,
                  CAST(CAST(sum(CAST($v AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s_g,
                  CAST(CAST(sum(CAST($v * $v AS DECIMAL(30,12)))
                       AS VARCHAR) AS DOUBLE) AS q_g
           FROM $from GROUP BY 1),
         f AS (
           SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n,
                  list_sum(list(s_g ORDER BY event_type)) AS sum_s,
                  list_sum(list(s_g * s_g / CAST(n_g AS DOUBLE)
                           ORDER BY event_type)) AS sum_sq_over_n,
                  list_sum(list(q_g ORDER BY event_type)) AS sum_q
           FROM g),
         c AS (
           SELECT k, n,
                  sum_sq_over_n - sum_s * sum_s / CAST(n AS DOUBLE)
                    AS ssb,
                  sum_q - sum_sq_over_n AS ssw
           FROM f)"""

  /** Oracle twin of `fRatio`, the final SELECT over `oneWayCtes`. */
  private def fRatioSql(ssb: String, ssw: String, stat: String): String =
    s"""SELECT k, n, round(ssb, 6) AS $ssb, round(ssw, 6) AS $ssw,
                CASE WHEN ssw > 0 AND k > 1 THEN
                  round((ssb / CAST(k - 1 AS DOUBLE)) /
                        (ssw / CAST(n - k AS DOUBLE)), 6)
                END AS $stat
         FROM c"""

  private val baseOracles: Map[String, String] = Map(
    // A46: the BH step-up replayed from the dumped p-values —
    // ranking, raw = p·m/rank (the identical double chain), the
    // suffix-min monotone enforcement, the clamp, and the UNROUNDED
    // 0.05 verdict (the rounded p_adj is output-only)
    "a46_bh_fdr" ->
      s"""WITH $PRankCtes,
         adj AS (
           SELECT *, least(CAST(1.0 AS DOUBLE),
                  min(p_value * m / rnk) OVER (
                    ORDER BY p_value DESC, event_type DESC, k DESC
                    ROWS UNBOUNDED PRECEDING)) AS p_adj
           FROM r)
         SELECT event_type, k, p_value, CAST(rnk AS BIGINT) AS rnk,
                round(p_adj, 6) AS p_adj,
                p_adj <= CAST(0.05 AS DOUBLE) AS significant
         FROM adj ORDER BY event_type, k""",
    // A63: the Holm step-down from the same dump — prefix MAX where
    // BH's is a suffix min
    "a63_holm" ->
      s"""WITH $PRankCtes,
         adj AS (
           SELECT *, least(CAST(1.0 AS DOUBLE),
                  max(p_value * (m - rnk + 1)) OVER (
                    ORDER BY p_value, event_type, k
                    ROWS UNBOUNDED PRECEDING)) AS p_adj
           FROM r)
         SELECT event_type, k, p_value, CAST(rnk AS BIGINT) AS rnk,
                round(p_adj, 6) AS p_adj,
                p_adj <= CAST(0.05 AS DOUBLE) AS significant
         FROM adj ORDER BY event_type, k""",
    // exact-median split (quantile_cont = Spark percentile), integer
    // n1/n2/runs, then the identical fixed-shape IEEE z chain
    "a90_runs_test" ->
      s"""WITH $CloseCtes,
         md AS (
           SELECT event_type, quantile_cont(close, 0.5) AS med
           FROM c GROUP BY 1),
         sgns AS (
           SELECT c.event_type, c.day,
                  CASE WHEN c.close > md.med THEN 1 ELSE 0 END AS sgn
           FROM c JOIN md USING (event_type)
           WHERE c.close <> md.med),
         runsrc AS (
           SELECT event_type, sgn,
                  CASE WHEN lag(sgn) OVER w IS NULL
                            OR sgn <> lag(sgn) OVER w
                       THEN 1 ELSE 0 END AS newrun
           FROM sgns
           WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         agg AS (
           SELECT event_type,
                  CAST(sum(sgn) AS BIGINT) AS n1,
                  CAST(sum(1 - sgn) AS BIGINT) AS n2,
                  CAST(sum(newrun) AS BIGINT) AS runs
           FROM runsrc GROUP BY 1),
         st AS (
           SELECT *, n1 + n2 AS n,
                  CAST(2 AS DOUBLE) * n1 * n2 AS t2
           FROM agg WHERE n1 > 0 AND n2 > 0),
         mz AS (
           SELECT *, t2 / n + 1 AS mu,
                  t2 * (t2 - n) / CAST(n * n * (n - 1) AS DOUBLE) AS vr
           FROM st)
         SELECT event_type, n1, n2, runs, (runs - mu) / sqrt(vr) AS z
         FROM mz ORDER BY event_type""",
    // integer column/block totals over complete blocks; Q is one
    // deterministic division from integers
    "a91_cochran_q" ->
      s"""WITH $CloseCtes,
         f AS (
           SELECT event_type, day, close,
                  lag(close) OVER (PARTITION BY event_type
                                   ORDER BY day) AS prev
           FROM c),
         fx AS (
           SELECT event_type, day,
                  CAST(CASE WHEN close > prev THEN 1 ELSE 0 END
                       AS BIGINT) AS x
           FROM f WHERE prev IS NOT NULL),
         k AS (SELECT count(DISTINCT event_type) AS k FROM fx),
         days AS (
           SELECT day, count(*) AS dcnt, sum(x) AS b FROM fx GROUP BY 1),
         cd AS (
           SELECT day, b FROM days, k WHERE dcnt = k.k),
         g AS (
           SELECT event_type, sum(x) AS g
           FROM fx JOIN cd USING (day) GROUP BY 1),
         gt AS (
           SELECT CAST(sum(g) AS BIGINT) AS nn,
                  CAST(sum(g * g) AS BIGINT) AS g2
           FROM g),
         bt AS (
           SELECT count(*) AS n_blocks, CAST(sum(b * b) AS BIGINT) AS b2
           FROM cd)
         SELECT k.k AS k, bt.n_blocks AS n_blocks, gt.nn AS n_success,
                CASE WHEN k.k * gt.nn - bt.b2 <> 0 THEN
                  CAST(k.k - 1 AS DOUBLE) *
                    CAST(k.k * gt.g2 - gt.nn * gt.nn AS DOUBLE) /
                    CAST(k.k * gt.nn - bt.b2 AS DOUBLE)
                END AS q_stat
         FROM k, gt, bt""",
    // integer discordant-cell counts (exact double comparisons), one
    // division per statistic
    // a92's daily up-price/up-volume panel, per-stratum integer
    // cells, the event_type-ordered list_sum folds mirroring the
    // engine's ordered aggregate, one fixed final chain
    "a119_cmh" ->
      s"""WITH $UpDownCtes,
         
         st AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS nk,
                  CAST(sum(x * y) AS BIGINT) AS a,
                  CAST(sum(x) AS BIGINT) AS r1,
                  CAST(sum(y) AS BIGINT) AS c1
           FROM f GROUP BY 1 HAVING count(*) > 1),
         agg AS (
           SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(nk) AS BIGINT) AS n,
                  CAST(sum(a) AS BIGINT) AS sum_a,
                  list_sum(list(CAST(r1 * c1 AS DOUBLE) /
                    CAST(nk AS DOUBLE) ORDER BY event_type)) AS sum_e,
                  list_sum(list(
                    CAST(r1 * (nk - r1) * c1 * (nk - c1) AS DOUBLE) /
                    CAST(nk * nk * (nk - 1) AS DOUBLE)
                    ORDER BY event_type)) AS sum_v
           FROM st),
         gg AS (
           SELECT *, greatest(CAST(0 AS DOUBLE),
                    abs(CAST(sum_a AS DOUBLE) - sum_e)
                      - CAST(0.5 AS DOUBLE)) AS g
           FROM agg)
         SELECT k, n, sum_a, sum_e, sum_v,
                CASE WHEN sum_v > 0 THEN g * g / sum_v END AS cmh_chi2
         FROM gg""",
    "a92_mcnemar" ->
      s"""WITH $UpDownCtes,
         
         agg AS (
           SELECT event_type, count(*) AS n_pairs,
                  CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS b,
                  CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS c
           FROM f GROUP BY 1)
         SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs, b, c,
                CAST((b - c) * (b - c) AS DOUBLE) /
                  CAST(b + c AS DOUBLE) AS chi2,
                CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE) /
                  CAST(b + c AS DOUBLE) AS chi2_cc
         FROM agg WHERE b + c > 0 ORDER BY event_type""",
    // integer 2×2 cells; OR/RR one division each; the libm columns
    // (ln/exp) render at r6
    "a102_odds_ratio" ->
      s"""WITH $UpDownCtes,
         
         cells AS (
           SELECT event_type,
                  CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS a,
                  CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS b,
                  CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS c,
                  CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS d
           FROM f GROUP BY 1),
         st AS (
           SELECT *,
                  CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE) AS orr,
                  sqrt(CAST(1 AS DOUBLE) / a + CAST(1 AS DOUBLE) / b +
                       CAST(1 AS DOUBLE) / c + CAST(1 AS DOUBLE) / d)
                    AS se
           FROM cells WHERE a > 0 AND b > 0 AND c > 0 AND d > 0)
         SELECT event_type, a, b, c, d, orr AS odds_ratio,
                CAST(a * (c + d) AS DOUBLE) /
                  CAST(c * (a + b) AS DOUBLE) AS rel_risk,
                round(ln(orr), 6) AS log_or,
                round(exp(ln(orr) - CAST(1.96 AS DOUBLE) * se), 6) AS ci_lo,
                round(exp(ln(orr) + CAST(1.96 AS DOUBLE) * se), 6) AS ci_hi
         FROM st ORDER BY event_type""",
    // ×2-midrank integers (rank2 = 2·rank + t_eq − 1), per-row tie
    // correction t_eq²−1, then the identical fixed z chain
    "a93_wilcoxon_signed" ->
      s"""WITH $CloseCtes,
         dl AS (
           SELECT event_type, day,
                  close - lag(close) OVER (PARTITION BY event_type
                                           ORDER BY day) AS dd
           FROM c),
         nz AS (
           SELECT event_type, dd, abs(dd) AS ad
           FROM dl WHERE dd IS NOT NULL AND dd <> CAST(0 AS DOUBLE)),
         rk AS (
           SELECT event_type, dd,
                  rank() OVER (PARTITION BY event_type ORDER BY ad)
                    AS rk,
                  count(*) OVER (PARTITION BY event_type, ad) AS teq
           FROM nz),
         agg AS (
           SELECT event_type, count(*) AS n,
                  CAST(sum(CASE WHEN dd > 0 THEN 2 * rk + teq - 1
                                ELSE 0 END) AS BIGINT) AS w2,
                  CAST(sum(teq * teq - 1) AS BIGINT) AS tcorr
           FROM rk GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n,
                CAST(w2 AS DOUBLE) / 2 AS w_plus,
                (CAST(2 * w2 - n * (n + 1) AS DOUBLE) / 4) /
                  sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - tcorr
                       AS DOUBLE) / 48) AS z
         FROM agg ORDER BY event_type""",
    // all day pairs per type (bounded panel dimension), five integer
    // pair counts, one sqrt chain
    "a94_kendall_tau" ->
      s"""WITH $DayPairCtes
         
         SELECT event_type, CAST(n0 AS BIGINT) AS n0, conc, disc, tx, ty,
                CAST(conc - disc AS DOUBLE) /
                  sqrt(CAST(n0 - tx AS DOUBLE) *
                       CAST(n0 - ty AS DOUBLE)) AS tau_b
         FROM agg WHERE n0 > tx AND n0 > ty ORDER BY event_type""",
    // grand median split (quantile_cont = Spark percentile); per-type
    // integer cells; expected counts and the 2-cell contribution are
    // one fixed IEEE chain per ROW (never a cross-group float sum)
    "a95_mood_median" ->
      s"""WITH $CloseCtes,
         md AS (SELECT quantile_cont(close, 0.5) AS med FROM c),
         cc AS (
           SELECT event_type,
                  CAST(sum(CASE WHEN close > med THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_above,
                  CAST(sum(CASE WHEN close < med THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_below
           FROM c, md WHERE close <> med GROUP BY 1),
         t AS (
           SELECT CAST(sum(n_above) AS BIGINT) AS ta,
                  CAST(sum(n_below) AS BIGINT) AS tb,
                  CAST(sum(n_above + n_below) AS BIGINT) AS nn
           FROM cc),
         x AS (
           SELECT cc.*, t.ta, t.tb, t.nn,
                  n_above + n_below AS ng,
                  CAST((n_above + n_below) * t.ta AS DOUBLE) / t.nn AS ea,
                  CAST((n_above + n_below) * t.tb AS DOUBLE) / t.nn AS eb
           FROM cc, t)
         SELECT event_type, n_above, n_below, ta, tb, ea AS exp_above,
                (n_above - ea) * (n_above - ea) / ea +
                (n_below - eb) * (n_below - eb) / eb AS chi2_contrib
         FROM x ORDER BY event_type""",
    // integer S+/S-; the continuity-corrected z has an INTEGER
    // numerator (2S+ − n − sgn) over one sqrt
    "a96_sign_test" ->
      s"""WITH $CloseCtes,
         dl AS (
           SELECT event_type,
                  close - lag(close) OVER (PARTITION BY event_type
                                           ORDER BY day) AS dd
           FROM c),
         agg AS (
           SELECT event_type,
                  CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS s_pos,
                  CAST(sum(CASE WHEN dd < 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS s_neg
           FROM dl WHERE dd IS NOT NULL AND dd <> CAST(0 AS DOUBLE)
           GROUP BY 1),
         st AS (
           SELECT *, s_pos + s_neg AS n,
                  2 * s_pos - (s_pos + s_neg) AS num2
           FROM agg)
         SELECT event_type, s_pos, s_neg, n,
                CAST(num2 - (CASE WHEN num2 > 0 THEN 1
                                  WHEN num2 < 0 THEN -1
                                  ELSE 0 END) AS DOUBLE) /
                  sqrt(CAST(n AS DOUBLE)) AS z_cc
         FROM st ORDER BY event_type""",
    // the a35 rank-sum frame on the ×2 integer grid: one global
    // value window (the two-level decomposition is the Spark side's
    // scale concern, not the oracle's); numerator exact BIGINT,
    // magnitude label decided by integer cross-multiplication
    "a97_cliffs_delta" ->
      s"""WITH $MidrankCtes,
         a AS (
           SELECT CAST(sum(k1 * (2 * cbef + k + 1)) AS BIGINT) AS r1x2
           FROM r),
         f AS (
           SELECT n1, n2,
                  r1x2 - n1 * (n1 + 1) - n1 * n2 AS num,
                  n1 * n2 AS den
           FROM a, n)
         SELECT n1, n2,
                CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                  AS cliffs_delta,
                CASE WHEN abs(num) * 1000 < den * 147 THEN 'negligible'
                     WHEN abs(num) * 1000 < den * 330 THEN 'small'
                     WHEN abs(num) * 1000 < den * 474 THEN 'medium'
                     ELSE 'large' END AS magnitude
         FROM f""",
    // a94's pair frame with γ / D_yx / D_xy — one division each from
    // the same exact integer counts
    "a98_gamma_somers" ->
      s"""WITH $DayPairCtes
         
         SELECT event_type, CAST(n0 AS BIGINT) AS n0, conc, disc, tx, ty,
                CAST(conc - disc AS DOUBLE) /
                  CAST(conc + disc AS DOUBLE) AS gamma,
                CAST(conc - disc AS DOUBLE) /
                  CAST(n0 - tx AS DOUBLE) AS d_yx,
                CAST(conc - disc AS DOUBLE) /
                  CAST(n0 - ty AS DOUBLE) AS d_xy
         FROM agg
         WHERE conc + disc > 0 AND n0 > tx AND n0 > ty
         ORDER BY event_type""",
    // single global window (the two-level decomposition is the Spark
    // side's scale concern, not the oracle's); every rank quantity is
    // an exact half-integer so the sums are order-insensitive
    "a35_mannwhitney" ->
      s"""WITH $MidrankCtes,
         a AS (
           SELECT sum(CAST(k1 AS DOUBLE) *
                      (CAST(cbef AS DOUBLE) + CAST(k + 1 AS DOUBLE) / 2))
                    AS r1,
                  CAST(sum(k*k*k - k) AS BIGINT) AS ties
           FROM r)
         SELECT n1, n2, r1,
                r1 - CAST(n1*(n1+1) AS DOUBLE)/2 AS u1,
                CASE WHEN n1 + n2 > 1 AND
                     sqrt(CAST(n1*n2 AS DOUBLE)/12 *
                       (CAST(n1+n2+1 AS DOUBLE)
                        - CAST(ties AS DOUBLE)
                          / CAST((n1+n2)*(n1+n2-1) AS DOUBLE))) > 0 THEN
                (r1 - CAST(n1*(n1+1) AS DOUBLE)/2
                    - CAST(n1*n2 AS DOUBLE)/2)
                / sqrt(CAST(n1*n2 AS DOUBLE)/12 *
                    (CAST(n1+n2+1 AS DOUBLE)
                     - CAST(ties AS DOUBLE)
                       / CAST((n1+n2)*(n1+n2-1) AS DOUBLE)))
                END AS z
         FROM a, n""",
    "a34_ols_trend" ->
      s"""WITH ${dailyMeanCte("dly", "y")},
         xy AS (
           SELECT event_type, y,
                  CAST(datediff('day', DATE '2024-01-01', day) AS DOUBLE)
                    AS x
           FROM dly)
         SELECT event_type, count(*) AS n_days,
                round(regr_slope(y, x), 6) AS slope,
                round(regr_intercept(y, x), 6) AS intercept,
                round(regr_r2(y, x), 6) AS r2
         FROM xy GROUP BY 1 ORDER BY event_type""",
    // dayofweek labels differ across engines (Spark 1=Sun..7, DuckDB
    // 0=Sun..6) but both PARTITION the days identically, and dow is
    // an internal join key, never an output column
    "a58_seasonal_decomp" ->
      s"""WITH ${dailyMeanCte("dly", "y")},
         tr AS (
           SELECT event_type, day, y,
                  CASE WHEN count(*) OVER w7 = 7 THEN
                    CAST(CAST(sum(CAST(y AS DECIMAL(24,10))) OVER w7
                         AS VARCHAR) AS DOUBLE) / 7 END AS trend
           FROM dly
           WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         dt AS (SELECT event_type, day, y, trend, y - trend AS dt,
                       dayofweek(day) AS dow
                FROM tr),
         sea AS (
           SELECT event_type, dow,
                  CAST(CAST(sum(CAST(dt AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS s_raw
           FROM dt WHERE dt IS NOT NULL GROUP BY 1, 2),
         sc AS (
           SELECT event_type, dow,
                  s_raw - CAST(CAST(sum(CAST(s_raw AS DECIMAL(24,10)))
                    OVER (PARTITION BY event_type) AS VARCHAR) AS DOUBLE)
                    / count(*) OVER (PARTITION BY event_type) AS seasonal
           FROM sea)
         SELECT t.event_type, t.day, t.y,
                round(t.trend, 6) AS trend,
                round(sc.seasonal, 6) AS seasonal,
                round(t.y - t.trend - sc.seasonal, 6) AS residual
         FROM dt t JOIN sc ON t.event_type = sc.event_type
                          AND t.dow = sc.dow
         ORDER BY t.event_type, t.day""",
    "a65_cohens_d" ->
      """WITH m AS (
           SELECT count(CASE WHEN event_type = 'click' THEN 1 END) AS n_a,
                  avg(CASE WHEN event_type = 'click' THEN value END)
                    AS mean_a,
                  var_samp(CASE WHEN event_type = 'click' THEN value END)
                    AS var_a,
                  count(CASE WHEN event_type = 'purchase' THEN 1 END)
                    AS n_b,
                  avg(CASE WHEN event_type = 'purchase' THEN value END)
                    AS mean_b,
                  var_samp(CASE WHEN event_type = 'purchase' THEN value END)
                    AS var_b
           FROM events),
         s AS (
           SELECT n_a, n_b,
                  CASE WHEN sqrt(((n_a - 1) * var_a + (n_b - 1) * var_b)
                                 / (n_a + n_b - 2)) > 0 THEN
                    (mean_a - mean_b) /
                      sqrt(((n_a - 1) * var_a + (n_b - 1) * var_b)
                           / (n_a + n_b - 2))
                  END AS d_raw
           FROM m)
         SELECT n_a, n_b, round(d_raw, 6) AS cohens_d,
                round(d_raw * (CAST(1.0 AS DOUBLE) -
                  CAST(3.0 AS DOUBLE) /
                    (CAST(4.0 AS DOUBLE) * (n_a + n_b - 2) - 1)), 6)
                  AS hedges_g
         FROM s""",
    // weights emitted as 17-digit e-notation from the SAME Scala
    // arithmetic the query uses (the W12 literal-generation pattern)
    // → bit-identical doubles on both engines
    "a64_newey_west" -> {
      val L = 5
      val lagDefs = (1 to L).map(j => s"lag(dv, $j) OVER w AS l$j")
        .mkString(",\n                        ")
      val lagCols = (1 to L).map(j =>
        s"""CAST(CAST(sum(CAST(dv * l$j AS DECIMAL(24,10)))
           AS VARCHAR) AS DOUBLE) AS g$j""")
        .mkString(",\n                  ")
      val longrun = (1 to L).foldLeft("g0 / n") { (acc, j) =>
        val w = 2.0 * (1.0 - j.toDouble / (L + 1))
        f"$acc + CAST($w%.17e AS DOUBLE) * (g$j / n)"
      }
      s"""WITH ${dailyMeanCte("dly", "y")},
         mu AS (
           SELECT event_type,
                  CAST(CAST(sum(CAST(y AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS mu
           FROM dly GROUP BY 1),
         dm AS (
           SELECT dly.event_type, dly.day, dly.y - mu.mu AS dv
           FROM dly JOIN mu ON dly.event_type = mu.event_type),
         g AS (
           SELECT event_type, count(*) AS n,
                  CAST(CAST(sum(CAST(dv * dv AS DECIMAL(24,10)))
                       AS VARCHAR) AS DOUBLE) AS g0,
                  $lagCols
           FROM (SELECT event_type, dv,
                        $lagDefs
                 FROM dm WINDOW w AS (PARTITION BY event_type
                                      ORDER BY day)) x
           GROUP BY event_type)
         SELECT event_type, n AS n_days,
                round(sqrt((g0 / n) / n), 6) AS se_naive,
                round(sqrt(($longrun) / n), 6) AS se_hac,
                round(sqrt(($longrun) / n) / sqrt((g0 / n) / n), 6)
                  AS inflation
         FROM g ORDER BY event_type"""
    },
    "a62_diff_in_diff" ->
      """WITH c AS (
           SELECT
             CAST(CAST(sum(CASE WHEN user_id % 2 = 0
                   AND ts < TIMESTAMP '2024-01-16 00:00:00'
                   THEN CAST(value AS DECIMAL(24,10))
                   ELSE CAST(0 AS DECIMAL(24,10)) END) AS VARCHAR)
               AS DOUBLE) /
               sum(CASE WHEN user_id % 2 = 0
                   AND ts < TIMESTAMP '2024-01-16 00:00:00'
                   THEN 1 ELSE 0 END) AS t_pre,
             CAST(CAST(sum(CASE WHEN user_id % 2 = 0
                   AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                   THEN CAST(value AS DECIMAL(24,10))
                   ELSE CAST(0 AS DECIMAL(24,10)) END) AS VARCHAR)
               AS DOUBLE) /
               sum(CASE WHEN user_id % 2 = 0
                   AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                   THEN 1 ELSE 0 END) AS t_post,
             CAST(CAST(sum(CASE WHEN user_id % 2 <> 0
                   AND ts < TIMESTAMP '2024-01-16 00:00:00'
                   THEN CAST(value AS DECIMAL(24,10))
                   ELSE CAST(0 AS DECIMAL(24,10)) END) AS VARCHAR)
               AS DOUBLE) /
               sum(CASE WHEN user_id % 2 <> 0
                   AND ts < TIMESTAMP '2024-01-16 00:00:00'
                   THEN 1 ELSE 0 END) AS c_pre,
             CAST(CAST(sum(CASE WHEN user_id % 2 <> 0
                   AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                   THEN CAST(value AS DECIMAL(24,10))
                   ELSE CAST(0 AS DECIMAL(24,10)) END) AS VARCHAR)
               AS DOUBLE) /
               sum(CASE WHEN user_id % 2 <> 0
                   AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                   THEN 1 ELSE 0 END) AS c_post
           FROM events)
         SELECT round(t_pre, 6) AS t_pre, round(t_post, 6) AS t_post,
                round(c_pre, 6) AS c_pre, round(c_post, 6) AS c_post,
                round((t_post - t_pre) - (c_post - c_pre), 6) AS did
         FROM c""",
    "a61_var_cvar" ->
      s"""WITH ${dailyMeanCte("dly", "y")},
         rets AS (
           SELECT event_type, day, y, lag(y) OVER w AS prev
           FROM dly
           WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         rr AS (SELECT event_type, (y - prev) / prev AS r FROM rets
                WHERE prev IS NOT NULL AND prev <> 0),
         vt AS (SELECT event_type, quantile_cont(r, 0.05) AS var05
                FROM rr GROUP BY 1)
         SELECT rr.event_type, count(*) AS n_days,
                round(max(vt.var05), 6) AS var_05,
                round(CAST(CAST(sum(CASE WHEN rr.r <= vt.var05
                           THEN CAST(rr.r AS DECIMAL(24,10)) END)
                      AS VARCHAR) AS DOUBLE) /
                      sum(CASE WHEN rr.r <= vt.var05 THEN 1 ELSE 0 END), 6)
                  AS cvar_05
         FROM rr JOIN vt ON rr.event_type = vt.event_type
         GROUP BY rr.event_type ORDER BY rr.event_type""",
    "a60_cuped" ->
      """WITH pu AS (
           SELECT user_id,
                  CAST(CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(value AS DECIMAL(24,10)) END) AS VARCHAR)
                    AS DOUBLE) /
                    count(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                          THEN 1 END) AS x,
                  CAST(CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(value AS DECIMAL(24,10)) END) AS VARCHAR)
                    AS DOUBLE) /
                    count(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                          THEN 1 END) AS y,
                  count(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN 1 END) AS nx,
                  count(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN 1 END) AS ny
           FROM events GROUP BY user_id)
         SELECT count(*) AS n_users,
                round(CASE WHEN var_pop(x) <> 0 THEN
                  covar_pop(x, y) / var_pop(x) END, 6) AS theta,
                round(var_pop(y), 6) AS var_y,
                round(CASE WHEN var_pop(x) <> 0 THEN
                  var_pop(y) - covar_pop(x, y) * covar_pop(x, y)
                      / var_pop(x) END, 6) AS var_y_adj,
                round(CASE WHEN var_pop(x) <> 0 AND var_pop(y) <> 0 THEN
                  (covar_pop(x, y) * covar_pop(x, y) / var_pop(x))
                      / var_pop(y) END, 6) AS var_reduction
         FROM pu WHERE nx > 0 AND ny > 0""",
    "a57_permutation_test" ->
      """WITH dly AS (
           SELECT event_type AS g,
                  event_type || ':' ||
                    (row_number() OVER (PARTITION BY event_type
                       ORDER BY date_trunc('day', ts)) - 1) AS eid,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS y
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY event_type, date_trunc('day', ts)),
         st AS (
           SELECT sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS n1,
                  sum(CASE WHEN g <> 'click' THEN 1 ELSE 0 END) AS n2,
                  CAST(CAST(sum(CASE WHEN g = 'click'
                        THEN CAST(y AS DECIMAL(24,10))
                        ELSE CAST(0 AS DECIMAL(24,10)) END) AS VARCHAR)
                    AS DOUBLE) /
                    sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) -
                  CAST(CAST(sum(CASE WHEN g <> 'click'
                        THEN CAST(y AS DECIMAL(24,10))
                        ELSE CAST(0 AS DECIMAL(24,10)) END) AS VARCHAR)
                    AS DOUBLE) /
                    sum(CASE WHEN g <> 'click' THEN 1 ELSE 0 END) AS obs
           FROM dly),
         rk AS (
           SELECT gs.b, dly.y,
                  row_number() OVER (PARTITION BY gs.b
                    ORDER BY md5(gs.b || ':' || dly.eid), dly.eid) AS r
           FROM dly, generate_series(0, 199) AS gs(b)),
         diffs AS (
           SELECT rk.b,
                  CAST(CAST(sum(CASE WHEN rk.r <= st.n1
                        THEN CAST(rk.y AS DECIMAL(24,10))
                        ELSE CAST(0 AS DECIMAL(24,10)) END) AS VARCHAR)
                    AS DOUBLE) / max(st.n1) -
                  CAST(CAST(sum(CASE WHEN rk.r > st.n1
                        THEN CAST(rk.y AS DECIMAL(24,10))
                        ELSE CAST(0 AS DECIMAL(24,10)) END) AS VARCHAR)
                    AS DOUBLE) / max(st.n2) AS diff
           FROM rk, st GROUP BY rk.b)
         SELECT CAST(st.n1 AS BIGINT) AS n1, CAST(st.n2 AS BIGINT) AS n2,
                round(st.obs, 6) AS obs_diff,
                CAST((SELECT sum(CASE WHEN abs(diff) >= abs(st.obs)
                            THEN 1 ELSE 0 END) FROM diffs)
                     AS BIGINT) AS n_extreme,
                round(CAST((SELECT sum(CASE WHEN abs(diff) >= abs(st.obs)
                            THEN 1 ELSE 0 END) FROM diffs) + 1 AS DOUBLE)
                      / 201, 6) AS p_value
         FROM st""",
    "a66_rank_corr" ->
      """WITH dly AS (
           SELECT event_type, date_trunc('day', ts) AS day,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS y
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1, 2),
         j AS (
           SELECT c.day, c.y AS xc, p.y AS xp
           FROM (SELECT day, y FROM dly WHERE event_type = 'click') c
           JOIN (SELECT day, y FROM dly WHERE event_type = 'purchase') p
             USING (day)),
         ranked AS (
           SELECT xc, xp,
                  CAST(rank() OVER (ORDER BY xc) AS DOUBLE) AS rc,
                  CAST(rank() OVER (ORDER BY xp) AS DOUBLE) AS rp
           FROM j),
         rho AS (
           SELECT count(*) AS n_days, corr(rc, rp) AS rho FROM ranked),
         conc AS (
           SELECT sum(sign(b.xc - a.xc) * sign(b.xp - a.xp)) AS s
           FROM j a JOIN j b ON a.day < b.day)
         SELECT CAST(n_days AS BIGINT) AS n_days,
                round(rho, 6) AS spearman_rho,
                round(CAST(s AS DOUBLE) /
                      (n_days * (n_days - 1) / 2.0), 6) AS kendall_tau
         FROM rho, conc""",
    // the md5-uniform ladder is the engine's cross-engine identity:
    // ('0x' || hex15)::BIGINT ≡ Spark conv(hex15, 16, 10)
    "a56_bootstrap_ci" ->
      """WITH dly AS (
           SELECT event_type,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS y,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY date_trunc('day', ts)) - 1 AS idx
           FROM events GROUP BY event_type, date_trunc('day', ts)),
         nn AS (SELECT event_type, count(*) AS n FROM dly GROUP BY 1),
         draws AS (
           -- DuckDB's FROM-clause generate_series takes no lateral
           -- column args: generate a fixed day-index spine and keep
           -- i < n. The 0..9999 bound is far above any per-series day
           -- count the events table can produce (the Spark side is
           -- fully lateral via sequence(0, n-1)); if a series ever
           -- exceeded it the n_resamples mean-count below would shrink
           -- and the CI rows would diverge loudly, not silently.
           SELECT nn.event_type, g.b,
                  ('0x' || substring(md5(nn.event_type || ':' || g.b ||
                     ':' || h.i), 1, 15))::BIGINT % nn.n AS idx
           FROM nn, generate_series(0, 199) AS g(b),
                generate_series(0, 9999) AS h(i)
           WHERE h.i < nn.n),
         means AS (
           SELECT d.event_type, d.b,
                  CAST(CAST(sum(CAST(dly.y AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS m
           FROM draws d JOIN dly
             ON d.event_type = dly.event_type AND d.idx = dly.idx
           GROUP BY d.event_type, d.b)
         SELECT event_type, count(*) AS n_resamples,
                round(quantile_cont(m, 0.025), 6) AS ci_lo,
                round(quantile_cont(m, 0.5), 6) AS ci_mid,
                round(quantile_cont(m, 0.975), 6) AS ci_hi
         FROM means GROUP BY event_type ORDER BY event_type""",
    "a55_mann_kendall" ->
      s"""WITH $SlopePanelCte,
         sp AS (
           SELECT a.event_type AS et,
                  CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s
           FROM dly a JOIN dly b
             ON a.event_type = b.event_type AND b.x > a.x
           GROUP BY 1),
         nn AS (SELECT event_type, count(*) AS n FROM dly GROUP BY 1),
         tt AS (
           SELECT event_type,
                  sum(t * (t - 1) * (2 * t + 5)) AS tt
           FROM (SELECT event_type, count(*) AS t
                 FROM dly GROUP BY event_type, y)
           GROUP BY 1)
         SELECT nn.event_type, nn.n AS n_days, sp.s,
                round(CASE
                  WHEN sp.s > 0 THEN CAST(sp.s - 1 AS DOUBLE) /
                    sqrt(CAST(nn.n*(nn.n-1)*(2*nn.n+5) - tt.tt AS DOUBLE)
                         / 18.0)
                  WHEN sp.s < 0 THEN CAST(sp.s + 1 AS DOUBLE) /
                    sqrt(CAST(nn.n*(nn.n-1)*(2*nn.n+5) - tt.tt AS DOUBLE)
                         / 18.0)
                  ELSE 0.0 END, 6) AS z
         FROM nn JOIN sp ON nn.event_type = sp.et
                 JOIN tt ON nn.event_type = tt.event_type
         ORDER BY nn.event_type""",
    "a54_theil_sen" ->
      s"""WITH $SlopePanelCte,
         sl AS (
           SELECT a.event_type AS et, quantile_cont(
                    (b.y - a.y) / (b.x - a.x), 0.5) AS slope
           FROM dly a JOIN dly b
             ON a.event_type = b.event_type AND b.x > a.x
           GROUP BY 1)
         SELECT d.event_type, count(*) AS n_days,
                round(max(sl.slope), 6) AS slope,
                round(quantile_cont(d.y - sl.slope * d.x, 0.5), 6)
                  AS intercept
         FROM dly d JOIN sl ON d.event_type = sl.et
         GROUP BY d.event_type ORDER BY d.event_type""",
    // single global window here (the oracle doesn't need the bucketed
    // two-level form — result identity is what's checked); the p
    // series is the same 10-term left-assoc chain
    "a33_ks_test" ->
      s"""WITH $CdfCtes,
         dmax AS (
           SELECT max(abs(CAST(c1 AS DOUBLE) / n1 -
                          CAST(c2 AS DOUBLE) / n2)) AS ks_d
           FROM r, n),
         lam AS (
           SELECT ks_d, n1, n2,
                  ks_d * sqrt(CAST(n1 * n2 AS DOUBLE) / (n1 + n2)) AS l
           FROM dmax, n)
         SELECT n1, n2, ks_d,
                round(least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                  2 * (exp(-2*l*l) - exp(-8*l*l) + exp(-18*l*l)
                     - exp(-32*l*l) + exp(-50*l*l) - exp(-72*l*l)
                     + exp(-98*l*l) - exp(-128*l*l) + exp(-162*l*l)
                     - exp(-200*l*l)))), 6) AS p_value
         FROM lam""",
    "a29_benford" ->
      s"""WITH counts AS (
           SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INT) AS digit,
                  count(*) AS n
           FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
         total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
         spine AS (SELECT unnest(generate_series(1, 9)) AS digit),
         j AS (
           SELECT s.digit, coalesce(c.n, 0) AS n,
                  total.total * ($benfordLits)[s.digit] AS expected
           FROM spine s LEFT JOIN counts c USING (digit), total)
         SELECT digit, CAST(n AS BIGINT) AS n,
                round(expected, 6) AS expected,
                round((CAST(n AS DOUBLE) - expected) *
                      (CAST(n AS DOUBLE) - expected) / expected, 6) AS term
         FROM j ORDER BY digit""",
    "a28_welch_ttest" ->
      """WITH agg AS (
           SELECT count(CASE WHEN event_type = 'click' THEN value END) AS n_a,
                  avg(CASE WHEN event_type = 'click' THEN value END) AS mean_a,
                  var_samp(CASE WHEN event_type = 'click' THEN value END) AS var_a,
                  count(CASE WHEN event_type = 'purchase' THEN value END) AS n_b,
                  avg(CASE WHEN event_type = 'purchase' THEN value END) AS mean_b,
                  var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS var_b
           FROM events)
         SELECT n_a, n_b, round(mean_a, 6) AS mean_a,
                round(mean_b, 6) AS mean_b,
                CASE WHEN var_a / n_a + var_b / n_b > 0 THEN
                  round((mean_a - mean_b) /
                        sqrt(var_a / n_a + var_b / n_b), 6)
                END AS t_stat,
                CASE WHEN n_a > 1 AND n_b > 1 AND
                          pow(var_a / n_a, 2) / (n_a - 1) +
                          pow(var_b / n_b, 2) / (n_b - 1) > 0 THEN
                  round(pow(var_a / n_a + var_b / n_b, 2) /
                        (pow(var_a / n_a, 2) / (n_a - 1) +
                         pow(var_b / n_b, 2) / (n_b - 1)), 6)
                END AS df_welch
         FROM agg""",
    "a51_hurst_rs" -> hurstOracleSql,
    "a52_anova" ->
      s"""WITH ${oneWayCtes("value", "events WHERE value IS NOT NULL")}
         ${fRatioSql("ssb", "ssw", "f_stat")}""",
    "a50_kaplan_meier" ->
      """WITH life AS (
           SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
           FROM events GROUP BY 1),
         h AS (SELECT max(ts) AS h FROM events),
         durs AS (
           SELECT datediff('day', CAST(first_ts AS DATE),
                           CAST(last_ts AS DATE)) AS dur_days,
                  last_ts < h.h - INTERVAL 7 DAY AS churned
           FROM life, h),
         spine AS (
           SELECT dur_days, count(*) AS c_all,
                  sum(CASE WHEN churned THEN 1 ELSE 0 END) AS d_churn
           FROM durs GROUP BY 1),
         n AS (SELECT count(*) AS n_total FROM durs),
         r AS (
           SELECT dur_days, c_all, d_churn,
                  n.n_total - coalesce(sum(c_all) OVER (
                    ORDER BY dur_days ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS n_at_risk
           FROM spine, n)
         SELECT CAST(dur_days AS INT) AS dur_days,
                CAST(n_at_risk AS BIGINT) AS n_at_risk,
                CAST(d_churn AS BIGINT) AS d_churn,
                CAST(c_all - d_churn AS BIGINT) AS c_censored,
                round(exp(sum(ln(CAST(1 AS DOUBLE) -
                      CAST(d_churn AS DOUBLE) / n_at_risk)) OVER (
                      ORDER BY dur_days ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)), 6) AS survival
         FROM r ORDER BY dur_days""",
    "a49_cusum_drift" ->
      s"""WITH ${dailyMeanCte("daily", "v")},
         t AS (
           SELECT event_type,
                  CAST(CAST(sum(CAST(v AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS mu0,
                  sqrt(CAST(CAST(sum(CAST(v * v AS DECIMAL(30,12)))
                       AS VARCHAR) AS DOUBLE) / count(*) -
                       (CAST(CAST(sum(CAST(v AS DECIMAL(30,12)))
                        AS VARCHAR) AS DOUBLE) / count(*)) *
                       (CAST(CAST(sum(CAST(v AS DECIMAL(30,12)))
                        AS VARCHAR) AS DOUBLE) / count(*))) AS sigma
           FROM daily GROUP BY 1),
         j AS (
           SELECT d.event_type, d.day, d.v, t.mu0, t.sigma,
                  d.v - t.mu0 - CAST(0.1 AS DOUBLE) * t.sigma AS dev
           FROM daily d JOIN t USING (event_type)),
         c AS (
           SELECT event_type, day, v, sigma,
                  CAST(CAST(sum(CAST(dev AS DECIMAL(30,12))) OVER w
                       AS VARCHAR) AS DOUBLE) AS s
           FROM j
           WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         g AS (
           SELECT event_type, day, v, sigma,
                  s - least(min(s) OVER (PARTITION BY event_type
                        ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW), CAST(0 AS DOUBLE)) AS g
           FROM c)
         SELECT event_type, day, round(v, 6) AS v, round(g, 6) AS g,
                g > CAST(3 AS DOUBLE) * sigma AS drift
         FROM g ORDER BY event_type, day""",
    "a48_mutual_info" ->
      """WITH base AS (
           SELECT event_type, dayofweek(ts) + 1 AS dow FROM events),
         cells AS (
           SELECT event_type, dow, count(*) AS n FROM base GROUP BY 1, 2),
         rt AS (SELECT event_type, sum(n) AS rt FROM cells GROUP BY 1),
         ct AS (SELECT dow, sum(n) AS ct FROM cells GROUP BY 1),
         tot AS (SELECT sum(n) AS t FROM cells),
         terms AS (
           SELECT round((CAST(c.n AS DOUBLE) / tot.t) *
                        ln(CAST(c.n AS DOUBLE) * tot.t /
                           CAST(rt.rt * ct.ct AS DOUBLE)), 6) AS mi_term,
                  round(-(CAST(c.n AS DOUBLE) / tot.t) *
                        ln(CAST(c.n AS DOUBLE) / tot.t), 6) AS h_term
           FROM cells c
                JOIN rt USING (event_type) JOIN ct USING (dow), tot),
         agg AS (
           SELECT CAST(CAST(sum(CAST(mi_term AS DECIMAL(24,10)))
                       AS VARCHAR) AS DOUBLE) AS mi,
                  CAST(CAST(sum(CAST(h_term AS DECIMAL(24,10)))
                       AS VARCHAR) AS DOUBLE) AS h_joint
           FROM terms)
         SELECT round(mi, 6) AS mi, round(h_joint, 6) AS h_joint,
                round(mi / h_joint, 6) AS nmi
         FROM agg""",
    // a48's contingency; each entropy a decimal-pinned sum of r6'd
    // −p·ln p terms (BIGINT-cast marginals — the HUGEINT lint class),
    // the two U's one division each over identical rounded entropies
    "a103_theils_u" ->
      """WITH base AS (
           SELECT event_type, dayofweek(ts) + 1 AS dow FROM events),
         cells AS (
           SELECT event_type, dow, count(*) AS n FROM base GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells),
         hx AS (
           SELECT CAST(CAST(sum(CAST(round(
                    -(CAST(k AS DOUBLE) / t) *
                      ln(CAST(k AS DOUBLE) / CAST(t AS DOUBLE)), 6)
                  AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS hx
           FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS k
                 FROM cells GROUP BY 1), tot),
         hy AS (
           SELECT CAST(CAST(sum(CAST(round(
                    -(CAST(k AS DOUBLE) / t) *
                      ln(CAST(k AS DOUBLE) / CAST(t AS DOUBLE)), 6)
                  AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS hy
           FROM (SELECT dow, CAST(sum(n) AS BIGINT) AS k
                 FROM cells GROUP BY 1), tot),
         hxy AS (
           SELECT CAST(CAST(sum(CAST(round(
                    -(CAST(k AS DOUBLE) / t) *
                      ln(CAST(k AS DOUBLE) / CAST(t AS DOUBLE)), 6)
                  AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS hxy
           FROM (SELECT event_type, dow, CAST(sum(n) AS BIGINT) AS k
                 FROM cells GROUP BY 1, 2), tot)
         SELECT round(hx, 6) AS h_type, round(hy, 6) AS h_dow,
                round(hxy, 6) AS h_joint,
                round((hx + hy - hxy) / hx, 6) AS u_type_given_dow,
                round((hx + hy - hxy) / hy, 6) AS u_dow_given_type
         FROM hx, hy, hxy""",
    // decimal-pinned Σv/Σv² variances rendered at r6, the per-day
    // totals themselves pinned sums, Σᵢσ²ᵢ a decimal fold of the
    // r6'd variances, α one fixed chain on identical doubles
    "a104_cronbach_alpha" ->
      s"""WITH ${dailyMeanCte("daily", "v")},
         ivr AS (
           SELECT round((s2 - s1 * s1 / n) / (n - 1), 6) AS ivar
           FROM (SELECT event_type, count(*) AS n,
                        CAST(CAST(sum(CAST(v AS DECIMAL(24,10)))
                             AS VARCHAR) AS DOUBLE) AS s1,
                        CAST(CAST(sum(CAST(v * v AS DECIMAL(30,10)))
                             AS VARCHAR) AS DOUBLE) AS s2
                 FROM daily GROUP BY 1)),
         iv AS (
           SELECT count(*) AS k,
                  CAST(CAST(sum(CAST(ivar AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS siv
           FROM ivr),
         tot AS (
           SELECT day, CAST(CAST(sum(CAST(v AS DECIMAL(24,10)))
                       AS VARCHAR) AS DOUBLE) AS tot
           FROM daily GROUP BY 1),
         tvr AS (
           SELECT n_days,
                  round((s2 - s1 * s1 / n_days) / (n_days - 1), 6) AS tvar
           FROM (SELECT count(*) AS n_days,
                        CAST(CAST(sum(CAST(tot AS DECIMAL(24,10)))
                             AS VARCHAR) AS DOUBLE) AS s1,
                        CAST(CAST(sum(CAST(tot * tot AS DECIMAL(30,10)))
                             AS VARCHAR) AS DOUBLE) AS s2
                 FROM tot))
         SELECT k, n_days, round(siv, 6) AS sum_item_var,
                tvar AS total_var,
                round(CASE WHEN tvar <> 0 THEN
                  (CAST(k AS DOUBLE) / (k - 1)) * (1 - siv / tvar) END, 6)
                  AS alpha
         FROM iv, tvr""",
    // a35's distinct-value window (rank identity is what's checked),
    // the ×2 edge-distance scores as exact BIGINTs, the even/odd
    // null-moment chains phrased operation-for-operation
    "a111_ansari_bradley" ->
      s"""WITH $MidrankCtes,
         a AS (
           SELECT CAST(sum(k1 * least(2 * cbef + k + 1,
                    2 * (n.n1 + n.n2 + 1) - (2 * cbef + k + 1)))
                  AS BIGINT) AS ab2
           FROM r, n),
         m AS (
           SELECT n1, n2, n1 + n2 AS n, CAST(ab2 AS DOUBLE) / 2 AS ab,
                  CASE WHEN (n1 + n2) % 2 = 0
                       THEN CAST(n1 * (n1 + n2 + 2) AS DOUBLE) / 4
                       ELSE CAST(n1 * (n1 + n2 + 1) * (n1 + n2 + 1)
                                 AS DOUBLE)
                            / CAST(4 * (n1 + n2) AS DOUBLE) END AS mean,
                  CASE WHEN (n1 + n2) % 2 = 0
                       THEN CAST(n1 * n2 AS DOUBLE) *
                            CAST((n1 + n2 + 2) * (n1 + n2 - 2) AS DOUBLE)
                            / CAST(48 * (n1 + n2 - 1) AS DOUBLE)
                       ELSE CAST(n1 * n2 AS DOUBLE) *
                            CAST(n1 + n2 + 1 AS DOUBLE) *
                            CAST(3 + (n1 + n2) * (n1 + n2) AS DOUBLE)
                            / CAST(48 * (n1 + n2) * (n1 + n2) AS DOUBLE)
                  END AS variance
           FROM a, n)
         SELECT n1, n2, ab, (ab - mean) / sqrt(variance) AS z
         FROM m""",
    // the exact-integer gap grid d = n2·c1 − n1·c2 per distinct
    // value (single global window — result identity is what's
    // checked); the numerator accumulates in HUGEINT (d² passes
    // BIGINT at sf0.1), lands on double via the VARCHAR hop, and T
    // is one division by the pinned (n1·n2)·N² product
    "a112_cramer_von_mises" ->
      s"""WITH $CdfCtes,
         a AS (
           SELECT sum(CAST(n2 * c1 - n1 * c2 AS HUGEINT) *
                      (n2 * c1 - n1 * c2) * (k1 + k2)) AS num
           FROM r, n)
         SELECT n1, n2,
                CASE WHEN n1 > 0 AND n2 > 0 THEN
                CAST(CAST(num AS VARCHAR) AS DOUBLE) /
                  (CAST(n1 * n2 AS DOUBLE) *
                   CAST((n1 + n2) * (n1 + n2) AS DOUBLE)) END AS cvm_t
         FROM a, n""",
    // the same gap grid; D± are exact BIGINT extreme picks (0-clamped
    // at the before-first-jump baseline), one division each
    "a113_kuiper" ->
      s"""WITH $CdfCtes,
         a AS (
           SELECT greatest(max(n2 * c1 - n1 * c2), 0) AS dmax,
                  -least(min(n2 * c1 - n1 * c2), 0) AS dmin
           FROM r, n)
         SELECT n1, n2,
                CASE WHEN n1 > 0 AND n2 > 0 THEN CAST(dmax AS DOUBLE) /
                  CAST(n1 * n2 AS DOUBLE) END AS d_plus,
                CASE WHEN n1 > 0 AND n2 > 0 THEN CAST(dmin AS DOUBLE) /
                  CAST(n1 * n2 AS DOUBLE) END AS d_minus,
                CASE WHEN n1 > 0 AND n2 > 0 THEN
                  CAST(dmax + dmin AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)
                END AS kuiper_v
         FROM a, n""",
    // the same ×2 integer grid; per-value term numerators in HUGEINT
    // (VARCHAR-hop to correctly-rounded doubles), positive BIGINT
    // denominators, r6'd terms into decimal-pinned order-free sums,
    // one fixed final chain
    "a114_anderson_darling" ->
      s"""WITH $CdfCtes,
         g AS (
           SELECT k1, k2, c1, c2, n1, n2, n1 + n2 AS nn, k1 + k2 AS l,
                  2 * (c1 + c2) - (k1 + k2) AS b2
           FROM r, n),
         t AS (
           SELECT n1, n2, nn,
                  CASE WHEN b2 * (2 * nn - b2) - nn * l > 0 THEN
                  round(CAST(CAST(CAST(nn * (2 * c1 - k1) - n1 * b2
                                       AS HUGEINT) *
                                  (nn * (2 * c1 - k1) - n1 * b2) * l
                                  AS VARCHAR) AS DOUBLE) /
                        CAST(b2 * (2 * nn - b2) - nn * l AS DOUBLE), 6)
                  ELSE CAST(0 AS DOUBLE) END AS t1,
                  CASE WHEN b2 * (2 * nn - b2) - nn * l > 0 THEN
                  round(CAST(CAST(CAST(nn * (2 * c2 - k2) - n2 * b2
                                       AS HUGEINT) *
                                  (nn * (2 * c2 - k2) - n2 * b2) * l
                                  AS VARCHAR) AS DOUBLE) /
                        CAST(b2 * (2 * nn - b2) - nn * l AS DOUBLE), 6)
                  ELSE CAST(0 AS DOUBLE) END AS t2
           FROM g),
         a AS (
           SELECT n1, n2, nn,
                  CAST(CAST(sum(CAST(t1 AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s1,
                  CAST(CAST(sum(CAST(t2 AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s2
           FROM t GROUP BY n1, n2, nn)
         SELECT n1, n2,
                CASE WHEN n1 > 0 AND n2 > 0 THEN
                (CAST(nn - 1 AS DOUBLE) / CAST(nn * nn AS DOUBLE)) *
                  (s1 / CAST(n1 AS DOUBLE) + s2 / CAST(n2 AS DOUBLE))
                END AS a2_akn
         FROM a""",
    // the pinned daily panel, exact up-day cells, alphabetical j,
    // then the fixed T/z chain on BIGINT-cast sums (HUGEINT class)
    "a110_cochran_armitage" ->
      s"""WITH $DailyPxCte,
         dl AS (
           SELECT event_type,
                  px - lag(px, 1) OVER (PARTITION BY event_type
                                        ORDER BY day) AS delta
           FROM daily),
         per AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS nj,
                  CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS rj
           FROM dl WHERE delta IS NOT NULL GROUP BY 1),
         jj AS (
           SELECT *, row_number() OVER (ORDER BY event_type) AS j
           FROM per),
         agg AS (
           SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(nj) AS BIGINT) AS n,
                  CAST(sum(rj) AS BIGINT) AS r,
                  CAST(sum(j * rj) AS BIGINT) AS sjr,
                  CAST(sum(j * nj) AS BIGINT) AS sjn,
                  CAST(sum(j * j * nj) AS BIGINT) AS sj2n
           FROM jj)
         SELECT k, n, r,
                CAST(sjr AS DOUBLE)
                  - (CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                    * CAST(sjn AS DOUBLE) AS trend_t,
                CASE WHEN (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
                       (CAST(1 AS DOUBLE)
                        - CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
                       (CAST(sj2n AS DOUBLE)
                        - CAST(sjn * sjn AS DOUBLE)
                          / CAST(n AS DOUBLE)) > 0 THEN
                (CAST(sjr AS DOUBLE)
                  - (CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                    * CAST(sjn AS DOUBLE))
                / sqrt((CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
                       (CAST(1 AS DOUBLE)
                        - CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
                       (CAST(sj2n AS DOUBLE)
                        - CAST(sjn * sjn AS DOUBLE)
                          / CAST(n AS DOUBLE))) END AS z
         FROM agg""",
    // per-pair unions over distinct-value counts, the same ×2
    // integer rank grid as the engine (the oracle skips the 1024
    // buckets — rank identity is what's checked), BIGINT casts on
    // every integer sum (the HUGEINT lint class), z one fixed chain
    "a109_jonckheere" ->
      """WITH ev AS (
           SELECT event_type, value FROM events WHERE value IS NOT NULL),
         ty AS (SELECT DISTINCT event_type FROM ev),
         prs AS (
           SELECT a.event_type AS g, b.event_type AS h
           FROM ty a JOIN ty b ON a.event_type < b.event_type),
         vc AS (
           SELECT event_type, value, CAST(count(*) AS BIGINT) AS c
           FROM ev GROUP BY 1, 2),
         sides AS (
           SELECT p.g, p.h, v.value, v.c AS cg, CAST(0 AS BIGINT) AS ch
           FROM prs p JOIN vc v ON v.event_type = p.g
           UNION ALL
           SELECT p.g, p.h, v.value, CAST(0 AS BIGINT) AS cg, v.c AS ch
           FROM prs p JOIN vc v ON v.event_type = p.h),
         perv AS (
           SELECT g, h, value, CAST(sum(cg) AS BIGINT) AS kg,
                  CAST(sum(ch) AS BIGINT) AS kh
           FROM sides GROUP BY 1, 2, 3),
         r AS (
           SELECT g, h, kg, kh, kg + kh AS k,
                  coalesce(sum(kg + kh) OVER (PARTITION BY g, h
                    ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS below
           FROM perv),
         per AS (
           SELECT g, h,
                  CAST(sum(kh * (2 * below + k + 1)) AS BIGINT) AS rs2h,
                  CAST(sum(kh) AS BIGINT) AS nh
           FROM r GROUP BY 1, 2),
         tot AS (
           SELECT CAST(sum(rs2h - nh * (nh + 1)) AS BIGINT) AS j2
           FROM per),
         gsz AS (
           SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(ng) AS BIGINT) AS n,
                  CAST(sum(ng * ng) AS BIGINT) AS sn2,
                  CAST(sum(ng * ng * (2 * ng + 3)) AS BIGINT) AS sn23
           FROM (SELECT CAST(count(*) AS BIGINT) AS ng
                 FROM ev GROUP BY event_type))
         SELECT k, n, CAST(j2 AS DOUBLE) / 2 AS j_stat,
                (CAST(j2 AS DOUBLE) / 2
                   - CAST(n * n - sn2 AS DOUBLE) / 4) /
                  sqrt(CAST(n * n * (2 * n + 3) - sn23 AS DOUBLE) / 72)
                  AS z
         FROM tot, gsz""",
    // `SlopePanelCte`'s pair join with the i≠j filter, exact
    // interpolated medians (quantile_cont) at both levels, r6 at
    // emission only
    "a107_siegel_slopes" ->
      s"""WITH $SlopePanelCte,
         inner_med AS (
           SELECT a.event_type, a.x AS x1, a.y AS y1,
                  quantile_cont((b.y - a.y) / (b.x - a.x), 0.5) AS mi
           FROM dly a JOIN dly b
             ON a.event_type = b.event_type AND b.x <> a.x
           GROUP BY 1, 2, 3),
         sl AS (
           SELECT event_type, count(*) AS n_days,
                  quantile_cont(mi, 0.5) AS slope
           FROM inner_med GROUP BY 1)
         SELECT i.event_type, max(s.n_days) AS n_days,
                round(max(s.slope), 6) AS slope,
                round(quantile_cont(i.y1 - s.slope * i.x1, 0.5), 6)
                  AS intercept
         FROM inner_med i JOIN sl s ON i.event_type = s.event_type
         GROUP BY i.event_type ORDER BY i.event_type""",
    // a87's midrank frame (exact halves), alphabetical j, the exact
    // Σ j·R_j fold, then the fixed normal chain on exact integers
    "a108_page_trend" ->
      s"""WITH $friedmanCtes,
         per_type AS (
           SELECT event_type, count(*) AS n_days, sum(r) AS rank_sum,
                  max(k) AS k
           FROM ranked GROUP BY 1),
         jj AS (
           SELECT *, row_number() OVER (ORDER BY event_type) AS j
           FROM per_type),
         agg AS (
           SELECT max(k) AS k, max(n_days) AS n,
                  sum(CAST(j AS DOUBLE) * rank_sum) AS l_stat
           FROM jj)
         SELECT k, n, l_stat,
                (l_stat - CAST(n * k * (k + 1) * (k + 1) AS DOUBLE) / 4) /
                  sqrt(CAST(n * k * k * (k + 1) * (k * k - 1) AS DOUBLE)
                       / 144) AS z
         FROM agg""",
    // a104's pinned panel aggregates (v, per-day tot, per-type ts —
    // squares are exact IEEE products of identical doubles), then the
    // two-way SS/MS/ICC chains phrased operation-for-operation like
    // the engine; r6 only at emission
    "a105_icc" ->
      s"""WITH ${dailyMeanCte("daily", "v")},
         g AS (
           SELECT count(*) AS nk,
                  CAST(CAST(sum(CAST(v AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS s,
                  CAST(CAST(sum(CAST(v * v AS DECIMAL(30,10))) AS VARCHAR)
                       AS DOUBLE) AS ssq
           FROM daily),
         rt AS (
           SELECT day, CAST(CAST(sum(CAST(v AS DECIMAL(24,10)))
                       AS VARCHAR) AS DOUBLE) AS tot
           FROM daily GROUP BY 1),
         rows_agg AS (
           SELECT count(*) AS n,
                  CAST(CAST(sum(CAST(tot * tot AS DECIMAL(30,10)))
                       AS VARCHAR) AS DOUBLE) AS srow
           FROM rt),
         ct AS (
           SELECT event_type, CAST(CAST(sum(CAST(v AS DECIMAL(24,10)))
                       AS VARCHAR) AS DOUBLE) AS ts
           FROM daily GROUP BY 1),
         cols_agg AS (
           SELECT count(*) AS k,
                  CAST(CAST(sum(CAST(ts * ts AS DECIMAL(30,10)))
                       AS VARCHAR) AS DOUBLE) AS scol
           FROM ct),
         ss AS (
           SELECT k, n,
                  srow / CAST(k AS DOUBLE)
                    - s * s / CAST(nk AS DOUBLE) AS ssr,
                  scol / CAST(n AS DOUBLE)
                    - s * s / CAST(nk AS DOUBLE) AS ssc,
                  ssq - s * s / CAST(nk AS DOUBLE) AS sst
           FROM g, rows_agg, cols_agg),
         ms AS (
           SELECT k, n,
                  ssr / CAST(n - 1 AS DOUBLE) AS msr,
                  ssc / CAST(k - 1 AS DOUBLE) AS msc,
                  (sst - ssr - ssc) / CAST((n - 1) * (k - 1) AS DOUBLE)
                    AS mse
           FROM ss)
         SELECT k, n AS n_days,
                round(msr, 6) AS ms_rows, round(msc, 6) AS ms_cols,
                round(mse, 6) AS ms_err,
                round(CASE WHEN msr + CAST(k - 1 AS DOUBLE) * mse <> 0 THEN
                      (msr - mse) /
                      (msr + CAST(k - 1 AS DOUBLE) * mse) END, 6) AS icc_3_1,
                round(CASE WHEN msr + CAST(k - 1 AS DOUBLE) * mse
                           + CAST(k AS DOUBLE) * (msc - mse)
                             / CAST(n AS DOUBLE) <> 0 THEN
                      (msr - mse) /
                      (msr + CAST(k - 1 AS DOUBLE) * mse
                           + CAST(k AS DOUBLE) * (msc - mse)
                             / CAST(n AS DOUBLE)) END, 6) AS icc_2_1
         FROM ms""",
    // pinned per-type Σx/Σx² variances rendered at r6, each ln term
    // r6'd whole (the a103 libm-absorption contract), the three
    // cross-group folds decimal-pinned over r6'd summands, T and C
    // one fixed chain each; sum(ni) BIGINT-cast (the HUGEINT class)
    "a106_bartlett" ->
      """WITH grp AS (
           SELECT event_type, count(*) AS ni,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS s1,
                  CAST(CAST(sum(CAST(value * value AS DECIMAL(30,10)))
                       AS VARCHAR) AS DOUBLE) AS s2
           FROM events GROUP BY 1),
         sv AS (
           SELECT ni, round((s2 - s1 * s1 / ni) / (ni - 1), 6) AS svar
           FROM grp),
         fl AS (SELECT * FROM sv WHERE svar > 0),
         agg AS (
           SELECT count(*) AS k, CAST(sum(ni) AS BIGINT) AS nn,
                  CAST(CAST(sum(CAST(CAST(ni - 1 AS DOUBLE) * svar
                       AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
                    AS pool_num,
                  CAST(CAST(sum(CAST(round(CAST(ni - 1 AS DOUBLE) *
                       ln(svar), 6) AS DECIMAL(30,10))) AS VARCHAR)
                       AS DOUBLE) AS ln_terms,
                  CAST(CAST(sum(CAST(round(CAST(1 AS DOUBLE) /
                       CAST(ni - 1 AS DOUBLE), 6) AS DECIMAL(24,10)))
                       AS VARCHAR) AS DOUBLE) AS recip
           FROM fl),
         ch AS (
           SELECT k, nn, CAST(nn - k AS DOUBLE) AS df,
                  round(pool_num / CAST(nn - k AS DOUBLE), 6) AS sp2,
                  ln_terms, recip
           FROM agg),
         cc AS (
           SELECT k, nn, df, sp2, ln_terms,
                  CAST(1 AS DOUBLE) +
                    (recip - CAST(1 AS DOUBLE) / df) /
                    (CAST(3 AS DOUBLE) * CAST(k - 1 AS DOUBLE)) AS c
           FROM ch)
         SELECT k, nn AS n, sp2 AS pooled_var,
                round(c, 6) AS correction_c,
                round((df * round(ln(sp2), 6) - ln_terms) / c, 6)
                  AS bartlett_t
         FROM cc""",
    "a47_ols_multiple" ->
      """WITH base AS (
           SELECT event_type, value AS y,
                  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS x1,
                  CAST(hour(ts) AS DOUBLE) AS x2
           FROM events
           WHERE value IS NOT NULL
             AND json_extract_string(props, '$.k') IS NOT NULL),
         m AS (
           SELECT event_type,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(CAST(sum(CAST(x1 AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s1,
                  CAST(CAST(sum(CAST(x2 AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s2,
                  CAST(CAST(sum(CAST(y AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(x1 * x1 AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s11,
                  CAST(CAST(sum(CAST(x1 * x2 AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s12,
                  CAST(CAST(sum(CAST(x2 * x2 AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s22,
                  CAST(CAST(sum(CAST(x1 * y AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s1y,
                  CAST(CAST(sum(CAST(x2 * y AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s2y,
                  CAST(CAST(sum(CAST(y * y AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS syy
           FROM base GROUP BY 1),
         c AS (
           SELECT event_type, n, sy, s1y, s2y, syy,
                  n * (s11*s22 - s12*s12) - s1 * (s1*s22 - s12*s2)
                    + s2 * (s1*s12 - s11*s2) AS det,
                  sy * (s11*s22 - s12*s12) - s1 * (s1y*s22 - s12*s2y)
                    + s2 * (s1y*s12 - s11*s2y) AS d0,
                  n * (s1y*s22 - s12*s2y) - sy * (s1*s22 - s12*s2)
                    + s2 * (s1*s2y - s1y*s2) AS d1,
                  n * (s11*s2y - s1y*s12) - s1 * (s1*s2y - s1y*s2)
                    + sy * (s1*s12 - s11*s2) AS d2
           FROM m),
         b AS (
           SELECT event_type, n, sy, s1y, s2y, syy,
                  CASE WHEN det <> 0 THEN d0/det END AS b0,
                  CASE WHEN det <> 0 THEN d1/det END AS b1,
                  CASE WHEN det <> 0 THEN d2/det END AS b2
           FROM c)
         SELECT event_type, CAST(n AS BIGINT) AS n,
                round(b0, 6) AS b0, round(b1, 6) AS b1,
                round(b2, 6) AS b2,
                round(CASE WHEN syy - sy*sy / n <> 0 THEN
                      1.0 - (syy - b0*sy - b1*s1y - b2*s2y) /
                      (syy - sy*sy / n) END, 6) AS r2
         FROM b ORDER BY event_type""",
    "a44_cramers_v" ->
      s"""WITH $ChiGridCtes,
         terms AS (
           SELECT n,
                  round((CAST(n AS DOUBLE) - expected) *
                        (CAST(n AS DOUBLE) - expected) / expected, 6)
                    AS term
           FROM grid),
         agg AS (
           SELECT CAST(CAST(sum(CAST(term AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS chi2,
                  CAST(sum(n) AS BIGINT) AS n_total,
                  (SELECT count(*) FROM rt) AS r,
                  (SELECT count(*) FROM ct) AS c
           FROM terms)
         SELECT round(chi2, 6) AS chi2, n_total,
                round(sqrt(chi2 / (n_total * least(r - 1, c - 1))), 6)
                  AS cramers_v
         FROM agg""",
    "a45_two_proportion_z" ->
      s"""WITH $TwoPropCte,
         p AS (
           SELECT n1, x1, n2, x2,
                  CASE WHEN n1 > 0 THEN CAST(x1 AS DOUBLE) / n1 END AS p1,
                  CASE WHEN n2 > 0 THEN CAST(x2 AS DOUBLE) / n2 END AS p2,
                  CASE WHEN n1 + n2 > 0 THEN
                    CAST(x1 + x2 AS DOUBLE) / (n1 + n2) END AS pp
           FROM agg)
         SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
                CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
                round(p1, 6) AS p1, round(p2, 6) AS p2,
                CASE WHEN n1 > 0 AND n2 > 0 AND pp > 0 AND pp < 1 THEN
                  round((p1 - p2) / sqrt(pp * (1.0 - pp) *
                        (1.0 / n1 + 1.0 / n2)), 6)
                END AS z
         FROM p""",
    // z constants as 6dp literals in both engines; ceil on the exact
    // double expression is deterministic (the ratio sits far from
    // integer boundaries on real proportions)
    "a70_power_analysis" ->
      s"""WITH $TwoPropCte,
         p AS (
           SELECT n1, n2,
                  CASE WHEN n1 > 0 THEN CAST(x1 AS DOUBLE) / n1 END AS p1,
                  CASE WHEN n2 > 0 THEN CAST(x2 AS DOUBLE) / n2 END AS p2
           FROM agg),
         m AS (
           SELECT n1, n2, p1, p2,
                  (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
                  * (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
                    AS zz,
                  p1 * (1.0 - p1) + p2 * (1.0 - p2) AS vs
           FROM p)
         SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                round(p1, 6) AS p1, round(p2, 6) AS p2,
                CAST(CASE WHEN p1 <> p2 THEN
                  ceil(zz * vs / ((p1 - p2) * (p1 - p2)))
                END AS BIGINT) AS n_required,
                CASE WHEN least(n1, n2) > 0 THEN
                  round(sqrt(zz * vs / least(n1, n2)), 6) END AS mde,
                least(n1, n2) >=
                  CASE WHEN p1 <> p2 THEN
                    ceil(zz * vs / ((p1 - p2) * (p1 - p2)))
                  END AS powered
         FROM m""",
    // identical fixed-width binning over the exact global [min, max],
    // identical Laplace smoothing, per-bin terms rounded then
    // decimal-summed (the a48 fold discipline)
    "a71_psi_drift" ->
      s"""WITH $DriftBinCtes
         SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
                CAST(max(nb) AS BIGINT) AS n_b,
                round(CAST(CAST(sum(CAST(round((pb - pa) * ln(pb / pa), 6)
                      AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE), 6) AS psi
         FROM terms GROUP BY event_type ORDER BY event_type""",
    // `DriftBinCtes`; √(pa·pb) terms rounded then
    // decimal-summed, BC rendered via the VARCHAR hop, sqrt IEEE-raw,
    // only the libm ln rounded
    "a115_hellinger" ->
      s"""WITH $DriftBinCtes,
         agg AS (
           SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
                  CAST(max(nb) AS BIGINT) AS n_b,
                  CAST(CAST(sum(CAST(round(sqrt(pa * pb), 6)
                       AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS bc
           FROM terms GROUP BY event_type)
         SELECT event_type, n_a, n_b, bc,
                sqrt(greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - bc))
                  AS hellinger,
                round(-ln(least(bc, CAST(1 AS DOUBLE))), 6)
                  AS bhattacharyya
         FROM agg ORDER BY event_type""",
    // identical fixed-width binning, integer tie-corrected
    // Mann–Whitney decomposition, one final raw-double division
    "a72_roc_auc" ->
      """WITH rng AS (SELECT min(value) AS vmin, max(value) AS vmax
                      FROM events),
         b AS (
           SELECT event_type,
                  least(CAST(floor((value - vmin) / (vmax - vmin) * 1000)
                        AS BIGINT), 999) AS bin,
                  CASE WHEN CAST(json_extract_string(props, '$.k')
                            AS BIGINT) >= 50 THEN 1 ELSE 0 END AS pos
           FROM events, rng),
         c AS (
           SELECT event_type, bin, sum(pos) AS p, sum(1 - pos) AS n
           FROM b GROUP BY 1, 2),
         w AS (
           SELECT event_type, p, n,
                  coalesce(sum(n) OVER (PARTITION BY event_type
                    ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS below
           FROM c)
         SELECT event_type, CAST(sum(p) AS BIGINT) AS n_pos,
                CAST(sum(n) AS BIGINT) AS n_neg,
                CASE WHEN sum(p) > 0 AND sum(n) > 0 THEN
                CAST(CAST(sum(p * (2 * below + n)) AS BIGINT) AS DOUBLE) /
                  (2.0 * CAST(sum(p) AS BIGINT) * CAST(sum(n) AS BIGINT))
                END AS auc
         FROM w GROUP BY event_type ORDER BY event_type""",
    // identical two-level bucket midranks (2× integers), identical
    // event_type-ordered fold and tie correction
    "a73_kruskal_wallis" ->
      s"""WITH $KwRankCtes,
         f AS (
           SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n,
                  list_sum(list(CAST(rs2 AS DOUBLE) * rs2 /
                    (4.0 * n_g) ORDER BY event_type)) AS s
           FROM g),
         h AS (
           SELECT k, n,
                  12.0 / CAST(n * (n + 1) AS DOUBLE) * s
                    - 3.0 * (n + 1) AS h,
                  CASE WHEN n > 1 THEN 1.0 - CAST(t3 AS DOUBLE) /
                    (CAST(n AS DOUBLE) * n * n - n) END AS corr_c
           FROM f, tt)
         SELECT k, n, round(h, 6) AS h,
                CASE WHEN corr_c <> 0 THEN round(h / corr_c, 6)
                END AS h_tied
         FROM h""",
    // `KwRankCtes`, then the tie-corrected
    // pairwise z on the k-row group frame — raw doubles
    "a89_dunn_pairs" ->
      s"""WITH $KwRankCtes,
         gm AS (
           SELECT event_type, n_g,
                  CAST(rs2 AS DOUBLE) /
                    (CAST(2.0 AS DOUBLE) * n_g) AS mean_rank,
                  CASE WHEN sum(n_g) OVER () > 1 THEN
                  CAST(sum(n_g) OVER () * (sum(n_g) OVER () + 1)
                       AS DOUBLE) / 12 -
                    CAST(t3 AS DOUBLE) /
                      (CAST(12.0 AS DOUBLE) * (sum(n_g) OVER () - 1))
                  END AS v
           FROM g, tt)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                a.n_g AS n_a, b.n_g AS n_b,
                a.mean_rank AS mean_rank_a, b.mean_rank AS mean_rank_b,
                CASE WHEN a.v > 0 THEN
                  (a.mean_rank - b.mean_rank) /
                    sqrt(a.v * (CAST(1.0 AS DOUBLE) / a.n_g +
                                CAST(1.0 AS DOUBLE) / b.n_g))
                END AS z
         FROM gm a JOIN gm b ON a.event_type < b.event_type
         ORDER BY type_a, type_b""",
    // identical 200-bin spine, cumulative CDF windows, 1e-12 gap grid,
    // one width multiplication
    "a79_wasserstein" ->
      """WITH rng AS (SELECT min(value) AS vmin, max(value) AS vmax
                      FROM events),
         c AS (
           SELECT event_type,
                  least(CAST(floor((value - vmin) / (vmax - vmin) * 200)
                        AS BIGINT), 199) AS bin,
                  CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                       THEN 1 ELSE 0 END AS in_a
           FROM events, rng),
         cc AS (
           SELECT event_type, bin, CAST(sum(in_a) AS BIGINT) AS ca,
                  CAST(sum(1 - in_a) AS BIGINT) AS cb
           FROM c GROUP BY 1, 2),
         spine AS (
           SELECT DISTINCT event_type, g.b AS bin
           FROM cc, generate_series(0, 199) AS g(b)),
         f AS (
           SELECT s.event_type, s.bin,
                  coalesce(cc.ca, 0) AS ca, coalesce(cc.cb, 0) AS cb
           FROM spine s LEFT JOIN cc
             ON s.event_type = cc.event_type AND s.bin = cc.bin),
         w AS (
           SELECT event_type,
                  sum(ca) OVER wt AS na, sum(cb) OVER wt AS nb,
                  sum(ca) OVER wc AS cuma, sum(cb) OVER wc AS cumb
           FROM f
           WINDOW wt AS (PARTITION BY event_type),
                  wc AS (PARTITION BY event_type ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING AND
                         CURRENT ROW)),
         g AS (
           SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
                  CAST(CAST(sum(CAST(round(abs(
                    CAST(cuma AS DOUBLE) / na -
                    CAST(cumb AS DOUBLE) / nb), 12)
                    AS DECIMAL(24,14))) AS VARCHAR) AS DOUBLE) AS gap
           FROM w GROUP BY 1)
         SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
                CAST(n_b AS BIGINT) AS n_b,
                round(gap * ((vmax - vmin) / 200), 6) AS w1
         FROM g, rng ORDER BY event_type""",
    // identical daily means, shared lag window, decimal-pinned MAEs
    "a80_mase" ->
      s"""WITH ${dailyMeanCte("daily", "v")},
         l AS (
           SELECT event_type, v,
                  lag(v, 7) OVER w AS l7, lag(v, 1) OVER w AS l1
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         g AS (
           SELECT event_type, count(*) AS n_eval,
                  CAST(CAST(sum(CAST(abs(v - l7) AS DECIMAL(30,12)))
                       AS VARCHAR) AS DOUBLE) / count(*) AS mae_model,
                  CAST(CAST(sum(CAST(abs(v - l1) AS DECIMAL(30,12)))
                       AS VARCHAR) AS DOUBLE) / count(*) AS mae_naive
           FROM l WHERE l7 IS NOT NULL AND l1 IS NOT NULL
           GROUP BY 1)
         SELECT event_type, CAST(n_eval AS BIGINT) AS n_eval,
                round(mae_model, 6) AS mae_model,
                round(mae_naive, 6) AS mae_naive,
                round(mae_model / mae_naive, 6) AS mase
         FROM g ORDER BY event_type""",
    // exact integer x-moments, decimal-pinned y/xy sums (VARCHAR-hop
    // renders), then the slope/intercept/residual/DW chain replays the
    // identical fixed-order IEEE arithmetic — raw doubles throughout
    "a81_durbin_watson" ->
      s"""WITH $TrendCtes,
         ab AS (
           SELECT event_type, n, sx, sy,
                  (n * sxy - sx * sy) /
                    CAST(n * sxx - sx * sx AS DOUBLE) AS beta
           FROM co),
         ab2 AS (
           SELECT event_type, n, beta,
                  (sy - beta * sx) / n AS alpha
           FROM ab),
         res AS (
           SELECT xy.event_type, xy.day, ab2.n, ab2.beta,
                  xy.y - (ab2.alpha + ab2.beta * xy.x) AS e
           FROM xy JOIN ab2 ON xy.event_type = ab2.event_type),
         lg AS (
           SELECT event_type, n, beta, e,
                  lag(e) OVER (PARTITION BY event_type ORDER BY day)
                    AS e_prev
           FROM res),
         g AS (
           SELECT event_type, max(n) AS n_days, max(beta) AS slope,
                  CAST(CAST(sum(CAST((e - e_prev) * (e - e_prev)
                       AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS num,
                  CAST(CAST(sum(CAST(e * e AS DECIMAL(30,8)))
                       AS VARCHAR) AS DOUBLE) AS den
           FROM lg GROUP BY 1)
         SELECT event_type, n_days, slope,
                CASE WHEN den > 0 THEN num / den END AS dw,
                CASE WHEN den > 0 THEN
                  CAST(1.0 AS DOUBLE) - num / den / 2 END AS rho1
         FROM g ORDER BY event_type""",
    // same total-pinning discipline on the lagged-level regression;
    // the DF critical values are shared literals
    "a82_dickey_fuller" ->
      s"""WITH ${dailyMeanCte("dly", "y")},
         l AS (
           SELECT event_type, day, y,
                  lag(y) OVER (PARTITION BY event_type ORDER BY day) AS xl
           FROM dly),
         dd AS (
           SELECT event_type, day, xl, y - xl AS dy
           FROM l WHERE xl IS NOT NULL),
         co AS (
           SELECT event_type, count(*) AS n,
                  CAST(CAST(sum(CAST(xl AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS sx,
                  CAST(CAST(sum(CAST(dy AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(xl * xl AS DECIMAL(28,8))) AS VARCHAR)
                       AS DOUBLE) AS sxx,
                  CAST(CAST(sum(CAST(xl * dy AS DECIMAL(28,8))) AS VARCHAR)
                       AS DOUBLE) AS sxy
           FROM dd GROUP BY 1),
         ab AS (
           SELECT event_type, n, sx, sy, sxx,
                  CASE WHEN n * sxx - sx * sx > 0 THEN
                    (n * sxy - sx * sy) / (n * sxx - sx * sx)
                  END AS beta
           FROM co),
         ab2 AS (
           SELECT event_type, n, sx, sxx, beta,
                  (sy - beta * sx) / n AS alpha
           FROM ab WHERE beta IS NOT NULL),
         res AS (
           SELECT dd.event_type, ab2.n, ab2.beta, ab2.alpha, ab2.sx,
                  ab2.sxx,
                  dd.dy - (ab2.alpha + ab2.beta * dd.xl) AS e
           FROM dd JOIN ab2 ON dd.event_type = ab2.event_type),
         g AS (
           SELECT event_type, max(n) AS n_obs, max(beta) AS beta,
                  max(sx) AS sx, max(sxx) AS sxx,
                  CAST(CAST(sum(CAST(e * e AS DECIMAL(30,8)))
                       AS VARCHAR) AS DOUBLE) AS sse
           FROM res GROUP BY 1)
         SELECT event_type, n_obs, beta,
                CASE WHEN sse > 0 AND n_obs > 2 THEN
                  beta / sqrt((sse / (n_obs - 2)) /
                              (sxx - sx * sx / n_obs))
                END AS t_stat,
                CAST(1.0 AS DOUBLE) + beta AS rho,
                CAST(-2.86 AS DOUBLE) AS crit_5pct,
                CAST(-3.43 AS DOUBLE) AS crit_1pct
         FROM g ORDER BY event_type""",
    // a54's pairwise-percentile shape on Walsh averages (i <= j)
    "a83_hodges_lehmann" ->
      s"""WITH ${dailyMeanCte("dly", "y")},
         walsh AS (
           SELECT a.event_type AS et, count(*) AS n_walsh,
                  round(quantile_cont((a.y + b.y) / 2, 0.5), 6) AS hl
           FROM dly a JOIN dly b
             ON a.event_type = b.event_type AND a.day <= b.day
           GROUP BY 1)
         SELECT d.event_type, count(*) AS n_days, max(w.n_walsh) AS n_walsh,
                round(quantile_cont(d.y, 0.5), 6) AS median,
                max(w.hl) AS hl
         FROM dly d JOIN walsh w ON d.event_type = w.et
         GROUP BY d.event_type ORDER BY d.event_type""",
    // exact-sum moments (one double render each) make every deviation
    // bit-identical, so the argmax pick and the raw G chain replay
    // the same pinned daily panel; phase from the calendar offset,
    // level/cell sums VARCHAR-hop rendered, SS terms r6'd then
    // decimal-summed, the identical fixed F chains
    "a117_two_way_anova" ->
      s"""WITH ${dailyMeanCte("dly", "y")},
         d0 AS (SELECT min(day) AS d0 FROM dly),
         panel AS (
           SELECT event_type,
                  CAST(datediff('day', d0, day) % 3 AS BIGINT) AS phase,
                  y
           FROM dly, d0),
         grand AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(CAST(sum(CAST(y AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS gmean
           FROM panel),
         la AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS nl,
                  CAST(CAST(sum(CAST(y AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS sl
           FROM panel GROUP BY 1),
         sa AS (
           SELECT CAST(count(*) AS BIGINT) AS a_levels,
                  CAST(CAST(sum(CAST(round(
                    nl * (sl / nl - gmean) * (sl / nl - gmean), 6)
                    AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS ss_a
           FROM la, grand),
         lb AS (
           SELECT phase, CAST(count(*) AS BIGINT) AS nl,
                  CAST(CAST(sum(CAST(y AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS sl
           FROM panel GROUP BY 1),
         sb AS (
           SELECT CAST(count(*) AS BIGINT) AS b_levels,
                  CAST(CAST(sum(CAST(round(
                    nl * (sl / nl - gmean) * (sl / nl - gmean), 6)
                    AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS ss_b
           FROM lb, grand),
         lc AS (
           SELECT event_type, phase, CAST(count(*) AS BIGINT) AS nc,
                  CAST(CAST(sum(CAST(y AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS sc,
                  CAST(CAST(sum(CAST(y * y AS DECIMAL(28,8))) AS VARCHAR)
                       AS DOUBLE) AS qc
           FROM panel GROUP BY 1, 2),
         scell AS (
           SELECT CAST(count(*) AS BIGINT) AS n_cells,
                  CAST(CAST(sum(CAST(round(
                    nc * (sc / nc - gmean) * (sc / nc - gmean), 6)
                    AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS ss_cells,
                  CAST(CAST(sum(CAST(round(
                    qc - nc * (sc / nc) * (sc / nc), 6)
                    AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS ss_e
           FROM lc, grand)
         SELECT a_levels, b_levels, n, ss_a, ss_b,
                ss_cells - ss_a - ss_b AS ss_ab, ss_e,
                CASE WHEN a_levels > 1 AND n > n_cells AND ss_e > 0 THEN
                  (ss_a / (a_levels - 1)) / (ss_e / (n - n_cells))
                END AS f_a,
                CASE WHEN b_levels > 1 AND n > n_cells AND ss_e > 0 THEN
                  (ss_b / (b_levels - 1)) / (ss_e / (n - n_cells))
                END AS f_b,
                CASE WHEN a_levels > 1 AND b_levels > 1
                      AND n > n_cells AND ss_e > 0 THEN
                  ((ss_cells - ss_a - ss_b) /
                   ((a_levels - 1) * (b_levels - 1))) /
                    (ss_e / (n - n_cells))
                END AS f_ab
         FROM sa, sb, scell, grand""",
    // the same pinned daily panel; order statistics via the two
    // deterministic row_numbers, one IEEE division each, the same
    // published 0.260 critical constant
    "a116_dixon_q" ->
      s"""WITH ${dailyMeanCte("dly", "y")},
         r AS (
           SELECT event_type, day, y,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY y ASC, day ASC) AS ra,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY y DESC, day DESC) AS rd
           FROM dly),
         a AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                  max(CASE WHEN ra = 1 THEN y END) AS x1,
                  max(CASE WHEN ra = 2 THEN y END) AS x2,
                  max(CASE WHEN rd = 2 THEN y END) AS xn1,
                  max(CASE WHEN rd = 1 THEN y END) AS xn
           FROM r GROUP BY 1)
         SELECT event_type, n_days, x1, xn,
                (x2 - x1) / (xn - x1) AS q_low,
                (xn - xn1) / (xn - x1) AS q_high,
                CASE WHEN n_days = 30 THEN
                  (x2 - x1) / (xn - x1) > CAST(0.260 AS DOUBLE)
                END AS low_outlier,
                CASE WHEN n_days = 30 THEN
                  (xn - xn1) / (xn - x1) > CAST(0.260 AS DOUBLE)
                END AS high_outlier
         FROM a WHERE xn > x1 ORDER BY event_type""",
    "a84_grubbs" ->
      s"""WITH ${dailyMeanCte("dly", "y")},
         mo AS (
           SELECT event_type, count(*) AS n_days,
                  CAST(CAST(sum(CAST(y AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS s1,
                  CAST(CAST(sum(CAST(y * y AS DECIMAL(28,8))) AS VARCHAR)
                       AS DOUBLE) AS s2
           FROM dly GROUP BY 1),
         mo2 AS (
           SELECT event_type, n_days, s1 / n_days AS mu,
                  sqrt((s2 - s1 * s1 / n_days) / (n_days - 1)) AS sd
           FROM mo),
         dev AS (
           SELECT d.event_type, mo2.n_days, d.day, d.y, mo2.mu, mo2.sd,
                  abs(d.y - mo2.mu) AS dev,
                  row_number() OVER (PARTITION BY d.event_type
                    ORDER BY abs(d.y - mo2.mu) DESC, d.day) AS rk
           FROM dly d JOIN mo2 ON d.event_type = mo2.event_type)
         SELECT event_type, n_days, day AS worst_day, y AS worst_value,
                mu AS mean,
                CASE WHEN sd > 0 THEN dev / sd END AS g
         FROM dev WHERE rk = 1 ORDER BY event_type""",
    // exact-decimal group moments rendered once; every pairwise
    // chain replays fixed-order IEEE — raw doubles
    "a88_tukey_pairs" ->
      """WITH g AS (
           SELECT event_type, count(*) AS n,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS s1,
                  CAST(CAST(sum(CAST(value * value AS DECIMAL(28,8)))
                       AS VARCHAR) AS DOUBLE) AS s2
           FROM events GROUP BY 1),
         m AS (
           SELECT event_type, n, s1 / n AS mean,
                  s2 - s1 * s1 / n AS ssw_g
           FROM g),
         gm AS (
           SELECT event_type, n, mean,
                  CAST(CAST(sum(CAST(ssw_g AS DECIMAL(30,4))) OVER ()
                       AS VARCHAR) AS DOUBLE) /
                    CAST(sum(n) OVER () - count(*) OVER () AS DOUBLE)
                    AS msw
           FROM m)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                a.n AS n_a, b.n AS n_b,
                a.mean - b.mean AS diff,
                sqrt(a.msw / 2 *
                  (CAST(1.0 AS DOUBLE) / a.n +
                   CAST(1.0 AS DOUBLE) / b.n)) AS se,
                CASE WHEN sqrt(a.msw / 2 *
                       (CAST(1.0 AS DOUBLE) / a.n +
                        CAST(1.0 AS DOUBLE) / b.n)) > 0 THEN
                  abs(a.mean - b.mean) /
                    sqrt(a.msw / 2 *
                      (CAST(1.0 AS DOUBLE) / a.n +
                       CAST(1.0 AS DOUBLE) / b.n))
                END AS q_stat
         FROM gm a JOIN gm b ON a.event_type < b.event_type
         ORDER BY type_a, type_b""",
    // identical midranks (rank + (ties−1)/2 on the ≤k-row day
    // windows), exact 0.25-grid sums, one raw Q chain
    "a87_friedman" ->
      s"""WITH $FriedmanQCtes
         SELECT event_type, n_days, CAST(k AS BIGINT) AS k, rank_sum,
                rank_sum / n_days AS mean_rank,
                CASE WHEN den <> 0 THEN
                  CAST(k - 1 AS DOUBLE) * num / den END AS q_stat
         FROM tot ORDER BY event_type""",
    // A101: a87's chain reduced to one row, W = Q/(m(k−1))
    "a101_kendalls_w" ->
      s"""WITH $FriedmanQCtes,
         q AS (
           SELECT n_days, k,
                  CASE WHEN den <> 0 THEN
                    CAST(k - 1 AS DOUBLE) * num / den END AS q_stat
           FROM tot)
         SELECT CAST(max(k) AS BIGINT) AS k,
                CAST(max(n_days) AS BIGINT) AS n_blocks,
                max(q_stat) AS q_stat,
                max(q_stat) / CAST(max(n_days) * (max(k) - 1) AS DOUBLE)
                  AS kendalls_w
         FROM q""",
    // A100: pinned x-moments + exact integer y/z moments, r6 per
    // pairwise r (the A2 contract), one fixed chain for the partial
    "a100_partial_corr" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS day,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS x,
                  CAST(sum(CAST(json_extract_string(props, '$.k')
                       AS BIGINT)) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         xyz AS (
           SELECT event_type, x, y,
                  CAST(datediff('day', DATE '2024-01-01', day) AS BIGINT)
                    AS z
           FROM daily),
         m AS (
           SELECT event_type, count(*) AS n,
                  CAST(CAST(sum(CAST(x AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS sx,
                  CAST(sum(y) AS DOUBLE) AS sy,
                  CAST(sum(z) AS DOUBLE) AS sz,
                  CAST(CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR)
                       AS DOUBLE) AS sxx,
                  CAST(sum(y * y) AS DOUBLE) AS syy,
                  CAST(sum(z * z) AS DOUBLE) AS szz,
                  CAST(CAST(sum(CAST(x * CAST(y AS DOUBLE)
                       AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sxy,
                  CAST(CAST(sum(CAST(x * CAST(z AS DOUBLE)
                       AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sxz,
                  CAST(sum(y * z) AS DOUBLE) AS syz
           FROM xyz GROUP BY 1),
         r AS (
           SELECT event_type, CAST(n AS BIGINT) AS n,
                  round(CASE WHEN
                    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) <> 0
                    THEN (n * sxy - sx * sy) /
                    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
                    AS r_xy,
                  round(CASE WHEN
                    sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) <> 0
                    THEN (n * sxz - sx * sz) /
                    sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) END, 6)
                    AS r_xz,
                  round(CASE WHEN
                    sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) <> 0
                    THEN (n * syz - sy * sz) /
                    sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) END, 6)
                    AS r_yz
           FROM m)
         SELECT event_type, n, r_xy, r_xz, r_yz,
                (r_xy - r_xz * r_yz) /
                  sqrt((CAST(1 AS DOUBLE) - r_xz * r_xz) *
                       (CAST(1 AS DOUBLE) - r_yz * r_yz)) AS partial_r
         FROM r
         WHERE (CAST(1 AS DOUBLE) - r_xz * r_xz) *
               (CAST(1 AS DOUBLE) - r_yz * r_yz) > 0
         ORDER BY event_type""",
    // a81's pinned regression replayed, then leverage and Cook's D as
    // the same fixed-order IEEE chains — raw doubles, raw flag
    // the same pinned daily panel and decimal renders; every SSR the
    // identical fixed Syy_c − Sxy_c²/Sxx_c chain, F one fixed chain,
    // degenerate guards mirrored as CASE WHEN
    "a118_chow" ->
      s"""WITH ${dailyMeanCte("dly", "y")},
         xy AS (
           SELECT event_type, y,
                  CAST(datediff('day', DATE '2024-01-01', day) AS BIGINT)
                    AS x,
                  CASE WHEN datediff('day', DATE '2024-01-01', day) < 15
                       THEN 1 ELSE 2 END AS seg
           FROM dly),
         mo AS (
           SELECT event_type, seg, count(*) AS n,
                  sum(x) AS sx, sum(x * x) AS sxx,
                  CAST(CAST(sum(CAST(y AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(x * y AS DECIMAL(28,8))) AS VARCHAR)
                       AS DOUBLE) AS sxy,
                  CAST(CAST(sum(CAST(y * y AS DECIMAL(28,8))) AS VARCHAR)
                       AS DOUBLE) AS syy
           FROM xy GROUP BY 1, 2),
         mop AS (
           SELECT event_type, count(*) AS n,
                  sum(x) AS sx, sum(x * x) AS sxx,
                  CAST(CAST(sum(CAST(y AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(x * y AS DECIMAL(28,8))) AS VARCHAR)
                       AS DOUBLE) AS sxy,
                  CAST(CAST(sum(CAST(y * y AS DECIMAL(28,8))) AS VARCHAR)
                       AS DOUBLE) AS syy
           FROM xy GROUP BY 1),
         ssrs AS (
           SELECT event_type, seg, n,
                  CASE WHEN CAST(sxx AS DOUBLE) -
                            CAST(sx AS DOUBLE) * sx / n > 0 THEN
                    syy - sy * sy / n -
                      (sxy - CAST(sx AS DOUBLE) * sy / n) *
                      (sxy - CAST(sx AS DOUBLE) * sy / n) /
                      (CAST(sxx AS DOUBLE) -
                       CAST(sx AS DOUBLE) * sx / n)
                  END AS ssr
           FROM mo),
         ssrp AS (
           SELECT event_type, n,
                  CASE WHEN CAST(sxx AS DOUBLE) -
                            CAST(sx AS DOUBLE) * sx / n > 0 THEN
                    syy - sy * sy / n -
                      (sxy - CAST(sx AS DOUBLE) * sy / n) *
                      (sxy - CAST(sx AS DOUBLE) * sy / n) /
                      (CAST(sxx AS DOUBLE) -
                       CAST(sx AS DOUBLE) * sx / n)
                  END AS ssr_pooled
           FROM mop),
         segw AS (
           SELECT event_type, min(n) AS n_min,
                  CAST(max(CASE WHEN seg = 1 THEN n END) AS BIGINT) AS n1,
                  CAST(max(CASE WHEN seg = 2 THEN n END) AS BIGINT) AS n2,
                  max(CASE WHEN seg = 1 THEN ssr END) AS ssr_1,
                  max(CASE WHEN seg = 2 THEN ssr END) AS ssr_2
           FROM ssrs GROUP BY 1)
         SELECT p.event_type, CAST(p.n AS BIGINT) AS n, s.n1, s.n2,
                p.ssr_pooled, s.ssr_1, s.ssr_2,
                CASE WHEN p.n > 4 AND s.n_min >= 3
                      AND s.ssr_1 IS NOT NULL AND s.ssr_2 IS NOT NULL
                      AND s.ssr_1 + s.ssr_2 > 0 THEN
                  ((p.ssr_pooled - s.ssr_1 - s.ssr_2) / 2) /
                    ((s.ssr_1 + s.ssr_2) / (p.n - 4))
                END AS chow_f
         FROM ssrp p JOIN segw s ON p.event_type = s.event_type
         ORDER BY p.event_type""",
    "a85_cooks_distance" ->
      s"""WITH $TrendCtes,
         ab AS (
           SELECT event_type, n,
                  (n * sxy - sx * sy) /
                    CAST(n * sxx - sx * sx AS DOUBLE) AS beta,
                  sx, sy, sxx
           FROM co),
         ab2 AS (
           SELECT event_type, n, beta,
                  (sy - beta * sx) / n AS alpha,
                  CAST(sx AS DOUBLE) / n AS xbar,
                  CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx_c
           FROM ab),
         res AS (
           SELECT xy.event_type, xy.day, xy.x, ab2.n, ab2.xbar, ab2.sxx_c,
                  xy.y - (ab2.alpha + ab2.beta * xy.x) AS e
           FROM xy JOIN ab2 ON xy.event_type = ab2.event_type),
         sse AS (
           SELECT event_type,
                  CAST(CAST(sum(CAST(e * e AS DECIMAL(30,8)))
                       AS VARCHAR) AS DOUBLE) AS sse
           FROM res GROUP BY 1),
         dd AS (
           SELECT r.event_type, r.day, r.e,
                  r.n, s.sse / (r.n - 2) AS s2,
                  CAST(1.0 AS DOUBLE) / r.n +
                    (r.x - r.xbar) * (r.x - r.xbar) / r.sxx_c AS h
           FROM res r JOIN sse s ON r.event_type = s.event_type)
         SELECT event_type, day, e AS resid, h AS leverage,
                CASE WHEN s2 > 0 THEN
                  e * e * h / (CAST(2.0 AS DOUBLE) * s2 *
                    (CAST(1.0 AS DOUBLE) - h) * (CAST(1.0 AS DOUBLE) - h))
                END AS cooks_d,
                CASE WHEN s2 > 0 THEN
                  e * e * h / (CAST(2.0 AS DOUBLE) * s2 *
                    (CAST(1.0 AS DOUBLE) - h) * (CAST(1.0 AS DOUBLE) - h))
                END > CAST(4.0 AS DOUBLE) / n AS influential
         FROM dd ORDER BY event_type, day""",
    // the auxiliary e²-on-x regression's centered moments replayed
    // with the identical pins; LM chain raw, threshold a shared literal
    "a86_breusch_pagan" ->
      s"""WITH $TrendCtes,
         ab AS (
           SELECT event_type, n, sx, sxx,
                  (n * sxy - sx * sy) /
                    CAST(n * sxx - sx * sx AS DOUBLE) AS beta,
                  sy
           FROM co),
         ab2 AS (
           SELECT event_type, n, sx, sxx, beta,
                  (sy - beta * sx) / n AS alpha
           FROM ab),
         res AS (
           SELECT xy.event_type, xy.x, ab2.n, ab2.sx, ab2.sxx,
                  (xy.y - (ab2.alpha + ab2.beta * xy.x)) *
                  (xy.y - (ab2.alpha + ab2.beta * xy.x)) AS u
           FROM xy JOIN ab2 ON xy.event_type = ab2.event_type),
         g AS (
           SELECT event_type, max(n) AS n_days,
                  max(sx) AS sx2, max(sxx) AS sxx2,
                  CAST(CAST(sum(CAST(u AS DECIMAL(30,8))) AS VARCHAR)
                       AS DOUBLE) AS su,
                  CAST(CAST(sum(CAST(x * u AS DECIMAL(32,6))) AS VARCHAR)
                       AS DOUBLE) AS sxu,
                  CAST(CAST(sum(CAST(u * u AS DECIMAL(36,4))) AS VARCHAR)
                       AS DOUBLE) AS suu
           FROM res GROUP BY 1),
         r2 AS (
           SELECT event_type, n_days,
                  CASE WHEN (CAST(sxx2 AS DOUBLE) -
                             CAST(sx2 AS DOUBLE) * sx2 / n_days) *
                            (suu - su * su / n_days) > 0 THEN
                  (sxu - CAST(sx2 AS DOUBLE) * su / n_days) *
                  (sxu - CAST(sx2 AS DOUBLE) * su / n_days) /
                  ((CAST(sxx2 AS DOUBLE) -
                    CAST(sx2 AS DOUBLE) * sx2 / n_days) *
                   (suu - su * su / n_days))
                  END AS r2
           FROM g)
         SELECT event_type, n_days, r2 AS aux_r2,
                n_days * r2 AS lm_stat,
                n_days * r2 > CAST(3.841458820694124 AS DOUBLE)
                  AS heteroskedastic_5pct
         FROM r2 ORDER BY event_type""",
    // identical min-max confidence, fixed bins, decimal-pinned sums,
    // windowed Brier over the bin frame
    "a78_calibration" ->
      """WITH rng AS (SELECT min(value) AS vmin, max(value) AS vmax
                      FROM events),
         sc AS (
           SELECT event_type,
                  CASE WHEN vmax > vmin THEN
                    (value - vmin) / (vmax - vmin)
                  ELSE CAST(0 AS DOUBLE) END AS conf,
                  CASE WHEN CAST(json_extract_string(props, '$.k')
                            AS BIGINT) >= 50 THEN 1 ELSE 0 END AS y
           FROM events, rng),
         b AS (
           SELECT event_type,
                  least(CAST(floor(conf * 10) AS BIGINT), 9) AS bin,
                  count(*) AS n,
                  CAST(CAST(sum(CAST(conf AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS avg_conf,
                  CAST(sum(y) AS BIGINT) AS n_pos,
                  sum(CAST((conf - y) * (conf - y) AS DECIMAL(30,12)))
                    AS sqsum
           FROM sc GROUP BY 1, 2),
         w AS (
           SELECT event_type, bin, n, avg_conf, n_pos,
                  CAST(CAST(sum(sqsum) OVER wt AS VARCHAR) AS DOUBLE) /
                    sum(n) OVER wt AS brier
           FROM b WINDOW wt AS (PARTITION BY event_type))
         SELECT event_type, bin, CAST(n AS BIGINT) AS n,
                round(avg_conf, 6) AS avg_conf,
                CAST(n_pos AS DOUBLE) / n AS frac_pos,
                round(CAST(n_pos AS DOUBLE) / n - avg_conf, 6) AS gap,
                round(brier, 6) AS brier
         FROM w ORDER BY event_type, bin""",
    // identical decimal-pinned prefix sums, raw-double PH chain
    "a77_page_hinkley" ->
      s"""WITH ${dailyMeanCte("daily", "v")},
         t AS (
           SELECT event_type, day, v,
                  row_number() OVER w AS rn,
                  CAST(CAST(sum(CAST(v AS DECIMAL(30,12))) OVER wc
                       AS VARCHAR) AS DOUBLE) AS runsum
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day),
                  wc AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND
                         CURRENT ROW)),
         m AS (
           SELECT event_type, day, v,
                  CAST(CAST(sum(CAST(v - runsum / rn -
                       CAST(0.05 AS DOUBLE) AS DECIMAL(30,12))) OVER wc
                       AS VARCHAR) AS DOUBLE) AS m
           FROM t
           WINDOW wc AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND
                         CURRENT ROW)),
         p AS (
           SELECT event_type, day, v,
                  m - min(m) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS ph
           FROM m)
         SELECT event_type, day, v, ph, ph > CAST(5.0 AS DOUBLE) AS alarm
         FROM p ORDER BY event_type, day""",
    // identical decimal-pinned group means, |dev| re-ANOVA through
    // `oneWayCtes`
    "a74_levene" ->
      s"""WITH m AS (
           SELECT event_type,
                  CAST(CAST(sum(CAST(value AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS mu
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         z AS (
           SELECT e.event_type, abs(e.value - m.mu) AS z
           FROM events e JOIN m ON e.event_type = m.event_type
           WHERE e.value IS NOT NULL),
         ${oneWayCtes("z", "z")}
         ${fRatioSql("ssb_dev", "ssw_dev", "w_stat")}""",
    // A74's chain with MEDIAN centers (quantile_cont = Spark
    // percentile), same ordered folds and renders
    "a99_brown_forsythe" ->
      s"""WITH m AS (
           SELECT event_type, quantile_cont(value, 0.5) AS md
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         z AS (
           SELECT e.event_type, abs(e.value - m.md) AS z
           FROM events e JOIN m ON e.event_type = m.event_type
           WHERE e.value IS NOT NULL),
         ${oneWayCtes("z", "z")}
         ${fRatioSql("ssb_dev", "ssw_dev", "bf_stat")}""",
    "a42_weekly_seasonality" ->
      """WITH daily AS (
           SELECT date_trunc('day', ts) AS day,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS v
           FROM events GROUP BY 1),
         byd AS (
           SELECT dayofweek(day) + 1 AS dow,
                  CAST(CAST(sum(CAST(v AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS dow_mean,
                  count(*) AS n_days
           FROM daily GROUP BY 1),
         g AS (
           SELECT CAST(CAST(sum(CAST(v AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS grand_mean
           FROM daily)
         SELECT CAST(dow AS INT) AS dow, n_days,
                round(dow_mean, 6) AS dow_mean,
                round(dow_mean / grand_mean, 6) AS seasonal_index
         FROM byd, g ORDER BY dow""",
    "a43_spearman" ->
      """WITH base AS (
           SELECT event_type, value,
                  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
           FROM events
           WHERE value IS NOT NULL
             AND json_extract_string(props, '$.k') IS NOT NULL),
         ranked AS (
           SELECT event_type,
                  CAST(rank() OVER (PARTITION BY event_type ORDER BY value)
                       AS DOUBLE) +
                  (CAST(count(*) OVER (PARTITION BY event_type, value)
                        AS DOUBLE) - 1) / 2 AS rv,
                  CAST(rank() OVER (PARTITION BY event_type ORDER BY k)
                       AS DOUBLE) +
                  (CAST(count(*) OVER (PARTITION BY event_type, k)
                        AS DOUBLE) - 1) / 2 AS rk
           FROM base)
         SELECT event_type, round(corr(rv, rk), 6) AS rho, count(*) AS n
         FROM ranked GROUP BY 1 ORDER BY event_type""",
    "a69_trimmed_mean" ->
      """WITH r AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY value, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         kept AS (
           SELECT event_type, value, n
           FROM r WHERE rn > n // 20 AND rn <= n - n // 20)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
                count(*) AS n_kept,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10)))
                      AS VARCHAR) AS DOUBLE) / count(*), 6)
                  AS trimmed_mean
         FROM kept GROUP BY event_type ORDER BY event_type""",
    "a67_jarque_bera" ->
      s"""WITH $MomentCtes,
         sk AS (
           SELECT event_type, n,
                  CASE WHEN m2 > 0 THEN
                    m3 / pow(m2, CAST(1.5 AS DOUBLE)) END AS skew,
                  CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurt
           FROM m),
         jb AS (
           SELECT event_type, n, skew, kurt,
                  CAST(n AS DOUBLE) / 6.0 *
                    (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0) AS jb
           FROM sk)
         SELECT event_type, CAST(n AS BIGINT) AS n,
                round(skew, 6) AS skewness, round(kurt, 6) AS kurtosis,
                round(jb, 6) AS jb_stat,
                round(exp(-jb / 2.0), 6) AS p_value
         FROM jb ORDER BY event_type""",
    // A120: a67's pinned power sums, then the two finite-n
    // z-transforms and the χ²₂ closed form as the identical fixed
    // IEEE chain, phrased operation-for-operation like the engine
    // (each intermediate its own column, the kurtosis-denominator
    // guard mirrored as CASE WHEN)
    "a120_dagostino_k2" ->
      s"""WITH $MomentCtes,
         g AS (
           SELECT event_type, n, nd,
                  CASE WHEN m2 > 0 THEN
                    m3 / pow(m2, CAST(1.5 AS DOUBLE)) END AS g1,
                  CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS b2
           FROM m),
         sk AS (
           SELECT *,
                  CASE WHEN nd >= 8 THEN
                    g1 * sqrt((nd + 1) * (nd + 3) / (6.0 * (nd - 2)))
                  END AS y,
                  CASE WHEN nd >= 8 THEN
                    3.0 * (nd * nd + 27.0 * nd - 70) * (nd + 1) * (nd + 3)
                      / ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
                  END AS beta2
           FROM g),
         sw AS (SELECT *, sqrt(2.0 * (beta2 - 1)) - 1 AS w2 FROM sk),
         sz AS (
           SELECT *,
                  (1.0 / sqrt(ln(sqrt(w2)))) *
                    ln(y / sqrt(2.0 / (w2 - 1)) +
                       sqrt(y / sqrt(2.0 / (w2 - 1)) *
                            (y / sqrt(2.0 / (w2 - 1))) + 1)) AS z1
           FROM sw),
         ku AS (
           SELECT *,
                  CASE WHEN nd >= 8 THEN
                    (b2 - 3.0 * (nd - 1) / (nd + 1)) /
                      sqrt(24.0 * nd * (nd - 2) * (nd - 3) /
                           ((nd + 1) * (nd + 1) * (nd + 3) * (nd + 5)))
                  END AS xx,
                  CASE WHEN nd >= 8 THEN
                    6.0 * (nd * nd - 5.0 * nd + 2) / ((nd + 3) * (nd + 5))
                      * sqrt(6.0 * (nd + 3) * (nd + 5) /
                             (nd * (nd - 2) * (nd - 3)))
                  END AS sb1
           FROM sz),
         ka AS (
           SELECT *,
                  6.0 + 8.0 / sb1 *
                    (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1))) AS aa
           FROM ku),
         kd AS (
           SELECT *, 1.0 + xx * sqrt(2.0 / (aa - 4)) AS dnm FROM ka),
         kz AS (
           SELECT *,
                  CASE WHEN dnm <> 0 THEN
                    ((1.0 - 2.0 / (9.0 * aa)) -
                     cbrt((1.0 - 2.0 / aa) / dnm)) /
                    sqrt(2.0 / (9.0 * aa)) END AS z2
           FROM kd),
         k2t AS (SELECT *, z1 * z1 + z2 * z2 AS k2 FROM kz)
         SELECT event_type, CAST(n AS BIGINT) AS n,
                round(g1, 6) AS skewness, round(b2, 6) AS kurtosis,
                round(z1, 6) AS z_skew, round(z2, 6) AS z_kurt,
                round(k2, 6) AS k2_stat,
                round(exp(-k2 / 2.0), 6) AS p_value
         FROM k2t ORDER BY event_type""",
    "a68_ljung_box" ->
      s"""WITH $DailyPxCte,
         lagged AS (
           SELECT event_type, px,
                  lag(px, 1) OVER wt AS l1, lag(px, 2) OVER wt AS l2,
                  lag(px, 3) OVER wt AS l3, lag(px, 4) OVER wt AS l4
           FROM daily
           WINDOW wt AS (PARTITION BY event_type ORDER BY day)),
         s AS (
           SELECT event_type, 1 AS lag_k, px, l1 AS prev FROM lagged
           UNION ALL SELECT event_type, 2, px, l2 FROM lagged
           UNION ALL SELECT event_type, 3, px, l3 FROM lagged
           UNION ALL SELECT event_type, 4, px, l4 FROM lagged),
         rho AS (
           SELECT event_type, lag_k, round(corr(px, prev), 6) AS rho
           FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
         nd AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1),
         terms AS (
           SELECT r.event_type, nd.n,
                  max(CASE WHEN lag_k = 1 THEN
                    rho * rho / CAST(nd.n - 1 AS DOUBLE) END) AS t1,
                  max(CASE WHEN lag_k = 2 THEN
                    rho * rho / CAST(nd.n - 2 AS DOUBLE) END) AS t2,
                  max(CASE WHEN lag_k = 3 THEN
                    rho * rho / CAST(nd.n - 3 AS DOUBLE) END) AS t3,
                  max(CASE WHEN lag_k = 4 THEN
                    rho * rho / CAST(nd.n - 4 AS DOUBLE) END) AS t4
           FROM rho r JOIN nd USING (event_type) GROUP BY 1, 2),
         q AS (
           SELECT event_type, n,
                  CAST(n AS DOUBLE) * (n + 2) * (t1 + t2 + t3 + t4) AS q
           FROM terms)
         SELECT event_type, CAST(n AS BIGINT) AS n_days,
                round(q, 6) AS q_stat,
                round(exp(-q / 2.0) * (1.0 + q / 2.0), 6) AS p_value
         FROM q ORDER BY event_type""",
    "a40_acf" ->
      s"""WITH $DailyPxCte,
         lagged AS (
           SELECT event_type, px,
                  lag(px, 1) OVER wt AS l1, lag(px, 2) OVER wt AS l2,
                  lag(px, 3) OVER wt AS l3, lag(px, 4) OVER wt AS l4,
                  lag(px, 5) OVER wt AS l5
           FROM daily
           WINDOW wt AS (PARTITION BY event_type ORDER BY day)),
         s AS (
           SELECT event_type, 1 AS lag_k, px, l1 AS prev FROM lagged
           UNION ALL
           SELECT event_type, 2, px, l2 FROM lagged
           UNION ALL
           SELECT event_type, 3, px, l3 FROM lagged
           UNION ALL
           SELECT event_type, 4, px, l4 FROM lagged
           UNION ALL
           SELECT event_type, 5, px, l5 FROM lagged)
         SELECT event_type, CAST(lag_k AS INT) AS lag_k,
                round(corr(px, prev), 6) AS acf, count(*) AS n
         FROM s WHERE prev IS NOT NULL
         GROUP BY 1, 2 ORDER BY event_type, lag_k""",
    "a41_chi2_independence" ->
      s"""WITH $ChiGridCtes
         SELECT event_type, CAST(dow AS INT) AS dow, CAST(n AS BIGINT) AS n,
                round(expected, 6) AS expected,
                round((CAST(n AS DOUBLE) - expected) *
                      (CAST(n AS DOUBLE) - expected) / expected, 6) AS term
         FROM grid ORDER BY event_type, dow""",
    "a2_pearson_corr" ->
      """SELECT event_type,
                round(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS r,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY event_type""",
    "a24_welford_corr" ->
      """SELECT event_type,
                round(corr(value,
                  CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS r,
                round(covar_samp(value,
                  CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6)
                  AS cov_samp,
                count(*) AS n
         FROM events
         WHERE value IS NOT NULL
           AND json_extract_string(props, '$.k') IS NOT NULL
         GROUP BY 1 ORDER BY event_type""",
    "a3_corr_grid" ->
      s"""WITH $CorrGridCtes
         SELECT event_type, k, round(c, 6) AS r, n FROM grid
         ORDER BY event_type, k""",
    "a4_best_config" ->
      s"""WITH $CorrGridCtes
         SELECT event_type, k AS best_k, round(c, 6) AS r, n FROM (
           SELECT *, row_number() OVER (PARTITION BY event_type
                       ORDER BY abs(c) DESC, k ASC) AS rn
           FROM grid) WHERE rn = 1
         ORDER BY event_type""",
    "a8_trade_metrics" ->
      """WITH t AS (SELECT value - 100 AS pnl FROM events
                    WHERE event_type = 'purchase')
         SELECT count(*) AS n_trades,
                CAST(sum(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
                round(sum(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END) / count(*), 6) AS win_rate,
                round(avg(CASE WHEN pnl > 0 THEN pnl END), 6) AS avg_win,
                round(avg(CASE WHEN pnl <= 0 THEN pnl END), 6) AS avg_loss,
                round(max(pnl), 6) AS largest_win,
                round(min(pnl), 6) AS largest_loss,
                round(sum(CASE WHEN pnl > 0 THEN pnl ELSE 0.0 END)
                      / abs(sum(CASE WHEN pnl <= 0 THEN pnl ELSE 0.0 END)), 6) AS profit_factor,
                round(avg(pnl), 6) AS expectancy
         FROM t""",
    // the annualizing pow() can exceed float range on a tiny, volatile
    // series ((1+mu)^252 hit 1.3e136 at sf0.001): Spark's double→float
    // cast SATURATES to Infinity there while DuckDB's CAST(… AS REAL)
    // raises — the fcast() CASE mirrors Spark's IEEE round-to-nearest
    // saturation (threshold = the float-max/inf midpoint) so both
    // engines emit inf and the hash still matches
    "a10_risk_metrics" ->
      s"""WITH $OrderRetCtes,
         dd AS (
           SELECT day, r, rev / peak - 1 AS dd FROM (
             SELECT day, r, rev,
                    max(rev) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
             FROM rets)),
         agg AS (
           SELECT avg(r) AS mu, stddev_samp(r) AS sigma,
                  stddev_samp(CASE WHEN r < 0 THEN r END) AS downside,
                  min(dd) AS max_dd
           FROM dd),
         m AS (
           SELECT mu, sigma, downside, max_dd,
                  pow(1.0 + mu, 252.0) - 1 AS ar
           FROM agg)
         SELECT CAST(round(mu, 6) AS REAL) AS mean_daily,
                CAST(round(sigma, 6) AS REAL) AS std_daily,
                CASE WHEN ar >= 3.4028235677973366e38 THEN CAST('inf' AS REAL)
                     WHEN ar <= -3.4028235677973366e38 THEN CAST('-inf' AS REAL)
                     ELSE CAST(ar AS REAL) END AS ann_return,
                CAST(round(sigma * sqrt(252.0), 6) AS REAL) AS ann_vol,
                CASE WHEN sigma * sqrt(252.0) = 0 THEN NULL
                     WHEN ar / (sigma * sqrt(252.0)) >= 3.4028235677973366e38
                     THEN CAST('inf' AS REAL)
                     WHEN ar / (sigma * sqrt(252.0)) <= -3.4028235677973366e38
                     THEN CAST('-inf' AS REAL)
                     ELSE CAST(ar / (sigma * sqrt(252.0)) AS REAL)
                END AS sharpe,
                CASE WHEN downside * sqrt(252.0) = 0 THEN NULL
                     WHEN ar / (downside * sqrt(252.0)) >= 3.4028235677973366e38
                     THEN CAST('inf' AS REAL)
                     WHEN ar / (downside * sqrt(252.0)) <= -3.4028235677973366e38
                     THEN CAST('-inf' AS REAL)
                     ELSE CAST(ar / (downside * sqrt(252.0)) AS REAL)
                END AS sortino,
                CASE WHEN abs(max_dd) = 0 THEN NULL
                     WHEN ar / abs(max_dd) >= 3.4028235677973366e38
                     THEN CAST('inf' AS REAL)
                     WHEN ar / abs(max_dd) <= -3.4028235677973366e38
                     THEN CAST('-inf' AS REAL)
                     ELSE CAST(ar / abs(max_dd) AS REAL)
                END AS calmar,
                CAST(round(max_dd, 6) AS REAL) AS max_dd
         FROM m""",
    "a11_monthly_returns" ->
      s"""WITH $OrderRetCtes
         SELECT date_trunc('month', day) AS month,
                round(exp(sum(ln(1.0 + r))) - 1, 6) AS ret,
                count(*) AS n_days
         FROM rets GROUP BY 1 ORDER BY month""",
    "a12_annual_rollup" ->
      s"""WITH $OrderRetCtes,
         monthly AS (
           SELECT date_trunc('month', day) AS month,
                  exp(sum(ln(1.0 + r))) - 1 AS mret
           FROM rets GROUP BY 1)
         SELECT CAST(year(month) AS INT) AS yr,
                round(sum(mret), 6) AS yearly_ret
         FROM monthly GROUP BY 1 ORDER BY yr""",
    "a13_histogram" ->
      """WITH bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
         SELECT event_type,
                CAST(CASE WHEN hi > lo THEN
                  least(floor((value - lo) / ((hi - lo) / 15.0)), 14.0)
                ELSE 0.0 END AS BIGINT) AS bin,
                count(*) AS n
         FROM events CROSS JOIN bounds
         GROUP BY 1, 2 ORDER BY event_type, bin""",
    "a14_heatmap_argmax" ->
      s"""WITH $OrderRetCtes,
         monthly AS (
           SELECT date_trunc('month', day) AS month,
                  exp(sum(ln(1.0 + r))) - 1 AS ret
           FROM rets GROUP BY 1)
         SELECT 'best' AS kind, month, round(ret, 6) AS ret FROM (
           SELECT *, row_number() OVER (ORDER BY ret DESC, month) AS rn
           FROM monthly) WHERE rn = 1
         UNION ALL
         SELECT 'worst' AS kind, month, round(ret, 6) AS ret FROM (
           SELECT *, row_number() OVER (ORDER BY ret ASC, month) AS rn
           FROM monthly) WHERE rn = 1
         ORDER BY kind"""
  )

  /** The p-value twins, flipped from rows-only in round 14: each twin
    * oracle wraps its hash-checked main oracle in a CTE and replays
    * the EXACT closed-form tail chain ([[PinnedSeries]]) on the main's
    * own z / statistic columns. The erfc-only family (χ²₁ / normal z:
    * a35, a55, a86, a89) is pure IEEE arithmetic — raw doubles,
    * bit-identical across engines, no rounding; the general-χ² family
    * (a29, a41, a73, a87) carries one exp(−y) → 6-dp rounding (the
    * a68/a120 closed-form discipline). */
  val oracles: Map[String, String] = baseOracles ++ Map(
    "a35_mw_pvalue" -> {
      val (defs, last) =
        PinnedSeries.normalTwoSidedSqlCtes("m14", "z", "p14", "x14_")
      s"""WITH m14 AS (${baseOracles("a35_mannwhitney")}), $defs
          SELECT n1, n2, z, p14 AS p_value FROM $last"""
    },
    "a55_mk_pvalue" -> {
      val (defs, last) =
        PinnedSeries.normalTwoSidedSqlCtes("m14", "z", "p14", "x14_")
      s"""WITH m14 AS (${baseOracles("a55_mann_kendall")}), $defs
          SELECT event_type, n_days, s, z, p14 AS p_value FROM $last
          ORDER BY event_type"""
    },
    "a89_dunn_pvalue" -> {
      val (defs, last) =
        PinnedSeries.normalTwoSidedSqlCtes("m14", "z", "p14", "x14_")
      s"""WITH m14 AS (${baseOracles("a89_dunn_pairs")}), $defs
          SELECT type_a, type_b, z, p14 AS p_value,
                 least(CAST(1.0 AS DOUBLE),
                   p14 * CAST(COUNT(*) OVER () AS DOUBLE)) AS p_bonferroni
          FROM $last ORDER BY type_a, type_b"""
    },
    "a86_bp_pvalue" -> {
      val (defs, last) =
        PinnedSeries.erfcSqlCtes("m14", "sqrt(lm_stat / 2.0)", "p14", "x14_")
      s"""WITH m14 AS (${baseOracles("a86_breusch_pagan")}), $defs
          SELECT event_type, n_days, lm_stat, p14 AS p_value FROM $last
          ORDER BY event_type"""
    },
    "a73_kw_pvalue" -> {
      val (defs, last) =
        PinnedSeries.chiSqPSqlCtes("f14", "h_tied", "df", "p14", "q14_")
      s"""WITH m14 AS (${baseOracles("a73_kruskal_wallis")}),
          f14 AS (SELECT h_tied, CAST(k - 1 AS DOUBLE) AS df FROM m14),
          $defs
          SELECT h_tied, df, round(p14, 6) AS p_value FROM $last"""
    },
    "a87_friedman_pvalue" -> {
      val (defs, last) =
        PinnedSeries.chiSqPSqlCtes("m14", "q_stat", "k - 1", "p14", "q14_")
      s"""WITH m14 AS (${baseOracles("a87_friedman")}), $defs
          SELECT event_type, n_days, k, q_stat,
                 round(p14, 6) AS p_value
          FROM $last ORDER BY event_type"""
    },
    "a29_benford_pvalue" -> {
      val (defs, last) =
        PinnedSeries.chiSqPSqlCtes("f14", "chi2", "df", "p14", "q14_")
      s"""WITH m14 AS (${baseOracles("a29_benford")}),
          f14 AS (SELECT round(list_sum(list(term ORDER BY digit)), 6)
                    AS chi2, CAST(8 AS BIGINT) AS df FROM m14),
          $defs
          SELECT chi2, df, round(p14, 6) AS p_value FROM $last"""
    },
    "a41_chi2_pvalue" -> {
      val (defs, last) =
        PinnedSeries.chiSqPSqlCtes("f14", "chi2", "df", "p14", "q14_")
      s"""WITH m14 AS (${baseOracles("a41_chi2_independence")}),
          f14 AS (SELECT
                    round(list_sum(list(term ORDER BY event_type, dow)), 6)
                      AS chi2,
                    CAST((COUNT(DISTINCT event_type) - 1) *
                         (COUNT(DISTINCT dow) - 1) AS BIGINT) AS df
                  FROM m14),
          $defs
          SELECT chi2, df, round(p14, 6) AS p_value FROM $last"""
    },
    // A121: the whole statistic replays — decimal-pinned moments,
    // the erfc-chain Φ per daily row, the ECDF sup, then the
    // DW/Stephens p chain; d_stat is raw-double bit-identical, p is
    // 6-dp for its exp/pow.
    "a121_lilliefors" -> {
      val (defs, last) = PinnedSeries.erfcSqlCtes("zr",
        "abs(z) / sqrt(2.0)", "ec", "e14_")
      s"""WITH ${dailyMeanCte("daily", "v")},
          fit0 AS (
            SELECT event_type, count(*) AS n,
                   CAST(CAST(sum(CAST(v AS DECIMAL(30,12))) AS VARCHAR)
                        AS DOUBLE) AS s1,
                   CAST(CAST(sum(CAST(v * v AS DECIMAL(30,12))) AS VARCHAR)
                        AS DOUBLE) AS s2
            FROM daily GROUP BY 1),
          fit1 AS (
            SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
                   s1 / CAST(n AS DOUBLE) AS mu,
                   (s2 - s1 * s1 / CAST(n AS DOUBLE)) /
                     (CAST(n AS DOUBLE) - 1.0) AS vr
            FROM fit0),
          fit AS (
            SELECT event_type, n, nd, mu,
                   CASE WHEN vr > 0 THEN sqrt(vr) END AS sd
            FROM fit1),
          zr AS (
            SELECT d.event_type, d.v, f.n, f.nd,
                   (d.v - f.mu) / f.sd AS z,
                   CAST(row_number() OVER (PARTITION BY d.event_type
                     ORDER BY d.v, d.day) AS DOUBLE) AS rn
            FROM daily d JOIN fit f ON d.event_type = f.event_type
            WHERE f.sd IS NOT NULL AND f.n >= 4),
          $defs,
          ph AS (
            SELECT *, CASE WHEN z >= 0.0 THEN 1.0 - 0.5 * ec
                           ELSE 0.5 * ec END AS phi
            FROM $last),
          dr AS (
            SELECT *, greatest(rn / nd - phi, phi - (rn - 1.0) / nd)
                      AS drow
            FROM ph),
          ds AS (
            SELECT event_type, max(n) AS n, max(nd) AS nd,
                   round(max(drow), 6) AS d_stat
            FROM dr GROUP BY 1),
          pk AS (
            SELECT *,
                   CASE WHEN n > 100
                     THEN d_stat * pow(nd / 100.0, 0.49)
                     ELSE d_stat END AS kd,
                   CASE WHEN n > 100 THEN 100.0 ELSE nd END AS ndd,
                   (sqrt(nd) - 0.01 + 0.85 / sqrt(nd)) * d_stat AS kk
            FROM ds),
          pk2 AS (
            SELECT *,
                   exp(-7.01256 * (kd * kd) * (ndd + 2.78019) +
                       2.99587 * kd * sqrt(ndd + 2.78019) - 0.122119 +
                       0.974598 / sqrt(ndd) + 1.67997 / ndd) AS pdw,
                   kk * kk AS k2
            FROM pk),
          pk3 AS (SELECT *, k2 * kk AS k3, k2 * kk * kk AS k4x FROM pk2),
          pr AS (
            SELECT *,
                   CASE WHEN pdw <= 0.1 THEN pdw
                        WHEN kk <= 0.302 THEN 1.0
                        WHEN kk <= 0.5 THEN
                          2.76773 - 19.828315 * kk + 80.709644 * k2 -
                          138.55152 * k3 + 81.218052 * k4x
                        WHEN kk <= 0.9 THEN
                          -4.901232 + 40.662806 * kk - 97.490286 * k2 +
                          94.029866 * k3 - 32.355711 * k4x
                        WHEN kk <= 1.31 THEN
                          6.198765 - 19.558097 * kk + 23.186922 * k2 -
                          12.234627 * k3 + 2.423045 * k4x
                        ELSE 0.0 END AS p_raw
            FROM pk3)
          SELECT event_type, n, d_stat,
                 round(least(1.0, greatest(0.0, p_raw)), 6) AS p_value
          FROM pr ORDER BY event_type"""
    },
    // The four incomplete-beta twins (PinnedBeta): each chain feeds
    // on its main query's ROUNDED, hash-checked statistic columns;
    // guarded rows get safe dummies (DuckDB ln() errors on ≤ 0) and
    // the final CASE never reads the chain there.
    "a3_corr_pvalue" -> {
      val (defs, last) = PinnedBeta.betaincSqlCtes("f14",
        "CASE WHEN ok THEN dfd / 2.0 ELSE 1.0 END",
        "CAST(0.5 AS DOUBLE)",
        "CASE WHEN ok THEN dfd / (dfd + t2) ELSE 0.5 END",
        "p14", "b14_")
      s"""WITH RECURSIVE m14 AS (${baseOracles("a3_corr_grid")}),
          f14 AS (SELECT event_type, k, r, n,
                    CAST(n - 2 AS DOUBLE) AS dfd,
                    (r IS NOT NULL AND n >= 3 AND abs(r) < 1.0) AS ok,
                    CASE WHEN r IS NOT NULL AND n >= 3 AND abs(r) < 1.0
                      THEN r * r * dfd / (1.0 - r * r) END AS t2
                  FROM m14),
          $defs
          SELECT event_type, k, r, n,
                 CASE WHEN r IS NULL OR n < 3 THEN NULL
                      WHEN abs(r) >= 1.0 THEN 0.0
                      ELSE round(p14, 6) END AS p_value
          FROM $last ORDER BY event_type, k"""
    },
    "a28_welch_pvalue" -> {
      val (defs, last) = PinnedBeta.betaincSqlCtes("f14",
        "CASE WHEN ok THEN df_welch / 2.0 ELSE 1.0 END",
        "CAST(0.5 AS DOUBLE)",
        "CASE WHEN ok THEN df_welch / (df_welch + t_stat * t_stat) " +
          "ELSE 0.5 END",
        "p14", "b14_")
      s"""WITH RECURSIVE m14 AS (${baseOracles("a28_welch_ttest")}),
          f14 AS (SELECT *, (t_stat IS NOT NULL AND df_welch IS NOT NULL
                             AND df_welch > 0.0) AS ok FROM m14),
          $defs
          SELECT n_a, n_b, mean_a, mean_b, t_stat, df_welch,
                 CASE WHEN ok THEN round(p14, 6) END AS p_value
          FROM $last"""
    },
    "a52_anova_pvalue" -> {
      val (defs, last) = PinnedBeta.betaincSqlCtes("f14",
        "CASE WHEN ok THEN d2 / 2.0 ELSE 1.0 END",
        "CASE WHEN ok THEN d1 / 2.0 ELSE 1.0 END",
        "CASE WHEN ok THEN d2 / (d2 + d1 * f_stat) ELSE 0.5 END",
        "p14", "b14_")
      s"""WITH RECURSIVE m14 AS (${baseOracles("a52_anova")}),
          f14 AS (SELECT f_stat,
                    CAST(k - 1 AS DOUBLE) AS d1,
                    CAST(n - k AS DOUBLE) AS d2,
                    (f_stat IS NOT NULL AND f_stat >= 0.0 AND
                     CAST(k - 1 AS DOUBLE) >= 1.0 AND
                     CAST(n - k AS DOUBLE) >= 1.0) AS ok
                  FROM m14),
          $defs
          SELECT f_stat, d1, d2,
                 CASE WHEN ok THEN round(p14, 6) END AS p_value
          FROM $last"""
    },
    "a74_levene_pvalue" -> {
      val (defs, last) = PinnedBeta.betaincSqlCtes("f14",
        "CASE WHEN ok THEN d2 / 2.0 ELSE 1.0 END",
        "CASE WHEN ok THEN d1 / 2.0 ELSE 1.0 END",
        "CASE WHEN ok THEN d2 / (d2 + d1 * w_stat) ELSE 0.5 END",
        "p14", "b14_")
      s"""WITH RECURSIVE m14 AS (${baseOracles("a74_levene")}),
          f14 AS (SELECT w_stat,
                    CAST(k - 1 AS DOUBLE) AS d1,
                    CAST(n - k AS DOUBLE) AS d2,
                    (w_stat IS NOT NULL AND w_stat >= 0.0 AND
                     CAST(k - 1 AS DOUBLE) >= 1.0 AND
                     CAST(n - k AS DOUBLE) >= 1.0) AS ok
                  FROM m14),
          $defs
          SELECT w_stat, d1, d2,
                 CASE WHEN ok THEN round(p14, 6) END AS p_value
          FROM $last"""
    }
  )
}
