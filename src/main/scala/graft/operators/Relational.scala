package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Core relational slice: scans, filters, projections, equi joins,
  * grouped aggregation, sort/limit, set ops and scalar functions.
  *
  * Reference semantics (SURVEY.md §2.1–2.2, §2.6–2.8): each query
  * re-expresses one operator of
  * `/root/reference/scripts/04_correlation_analysis.py:19-62` /
  * `scripts/02_fetch_news.py:109-131` / `scripts/03_add_sentiment.py:25`
  * over the harness testdata.
  *
  * Scale notes (100 TB design):
  *  - every query filters + projects immediately after the scan so
  *    Catalyst pushes predicates/pruning into the parquet reader;
  *  - small dimensions (part, customer) are broadcast explicitly;
  *  - dedup uses hash-partitioned window by key, never a global sort;
  *  - final orderBy is presentation-only (driver compares sorted output)
  *    and would be dropped / replaced by a bounded top-k at scale.
  */
object Relational {

  /** Round doubles for oracle-tolerant compare (BOTH sides round to 6). */
  private def r6(c: Column): Column = round(c, 6)

  /** SQL7's bounded-walk depths — shared constants so the exactness
    * guards in DedupSpec assert against the SAME literal the SQL
    * interpolates (the bound is tested, not narrated): the walk is
    * exact iff every component's diameter is ≤ the depth. Slice graph
    * (J ≥ 0.02, doc_id < 100): depth 5 = MEASURED diameter + 1 margin
    * (round 15 — BFS over the oracle's own pair SQL: diameter 2 at
    * sf0.001/sf0.01, 4 at sf0.1; the old depth 8 was "≫ the demo
    * clusters" by assumption and paid 3 extra in-plan recursion
    * levels per execution). Corpus graph (verified J ≥ 0.5): depth 4
    * = measured diameter 3 + 1 margin. Both bounds are load-bearing
    * at scale, since bounded UNION ALL walks multiply as Σ deg^depth
    * (see the sql7_closure_corpus scaladoc), and both are guarded: a
    * component outgrowing its depth fails the DedupSpec row-identity
    * against the iterative kernel AND the DuckDB closure oracle. */
  val Sql7SliceDepth = 5
  val Sql7CorpusDepth = 4

  /** Distinct (user, day) pairs for one event type — the common side
    * of the U4/U5 set-operator complement pair (one definition, so the
    * day derivation can't drift between the two). */
  private def eventDays(s: SparkSession, d: String, t: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === t)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1: parquet scan with pushed filter + pruned projection.
    // Ref: scripts/04_correlation_analysis.py:19 (per-stage parquet load).
    "s1_scan_prune" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("2000-01-01 00:00:00"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")),

    // P1: null-safe derived concat column (text = title ⊕ ' ' ⊕ description).
    // Ref: scripts/03_add_sentiment.py:25.
    "p1_derived_concat" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          trim(concat_ws(" ", coalesce(col("source"), lit("")),
            coalesce(col("lang"), lit("")))).as("tag"))
        .orderBy("doc_id")),

    // P2: equality filter (per-ticker slice). Ref: scripts/05_lag_analysis.py:59.
    "p2_filter_eq" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy("event_id")),

    // P3: half-open time-range predicate [start, end).
    // Ref: scripts/05_lag_analysis.py:66-69.
    // Uses the pushdown-preserving bounded scan: the range reaches the
    // parquet reader as int64 PushedFilters (asserted in TablesSpec)
    // instead of filtering above the ns→µs conversion.
    "p3_time_range" -> ((s, d) =>
      Tables.eventsBetween(s, d, "2024-01-10 00:00:00", "2024-01-20 00:00:00")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")),

    // P4: closed date-window filter (backtest period).
    // Ref: scripts/07_backtest.py:190-196.
    "p4_date_window" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderdate").between(lit("1997-01-01 00:00:00"),
                                           lit("1998-12-31 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")),

    // P5: threshold predicates (sentiment/min-count style). Threshold
    // sits at the ~p97 of the purchase value distribution — selective
    // but non-empty (a 0-row match can't distinguish a right filter
    // from an over-tight one).
    // Ref: scripts/06_strategy_signals.py:94-96.
    "p5_threshold" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("value") >= lit(200.0) && col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy("event_id")),

    // P7: keep-last dedup by key with explicit arrival order (ts, event_id).
    // Ref: scripts/02_fetch_news.py:117-120 (drop_duplicates keep='last').
    // Scale: window is hash-partitioned by the dedup key — no global sort.
    "p7_dedup_keep_last" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("user_id", "event_type")
    }),

    // S13: incremental merge-dedup ingest — union old+new overlapping
    // batches, keep the newest arrival per id.
    // Ref: scripts/02_fetch_news.py:109-131.
    "s13_merge_dedup" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val old = ev.filter(col("ts") < lit("2024-01-20 00:00:00"))
        .withColumn("batch", lit(1))
      val fresh = ev.filter(col("ts") >= lit("2024-01-15 00:00:00"))
        .withColumn("batch", lit(2))
      val w = Window.partitionBy("event_id").orderBy(col("batch").desc)
      old.unionByName(fresh)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("event_id")
    }),

    // J2: plain equi join fact×dim. Ref: scripts/08_visualize_equity.py:134-139.
    "j2_equi_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // J10: incremental JOIN-view maintenance — A27's don't-rescan-
    // history pattern extended from aggregates to joins: with V_old =
    // f_old ⋈ d_old already materialized, the refreshed view is
    // V_old ∪ (Δf ⋈ d_old) ∪ (f_old ⋈ Δd) ∪ (Δf ⋈ Δd) — three
    // delta-sized joins instead of re-joining 100 TB of history
    // (append-only deltas; updates/deletes add retraction terms,
    // which is the full IVM algebra). Deltas here are deterministic
    // mod-slices of one table (every 10th order = today's facts,
    // every 50th customer = newly arrived dims), so the DEMO re-scans
    // the parquet once per term; in production each delta is its own
    // SOURCE (today's partition / the CDC feed), so the three delta
    // joins read only delta-sized inputs — that separation, not this
    // slicing, is what makes the refresh O(Δ). The oracle is the
    // plain monolithic join — equality IS the maintenance invariant,
    // same contract as A27. Pure row passthrough (no float
    // aggregation) → exact.
    "j10_incremental_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val fOld = o.filter(col("o_orderkey") % 10 =!= 0)
      val fNew = o.filter(col("o_orderkey") % 10 === 0)
      val dOld = c.filter(col("c_custkey") % 50 =!= 0)
      val dNew = c.filter(col("c_custkey") % 50 === 0)
      def j(f: DataFrame, dd: DataFrame): DataFrame =
        f.join(dd, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("c_mktsegment"), col("o_totalprice"))
      j(fOld, dOld).unionByName(j(fNew, dOld))
        .unionByName(j(fOld, dNew)).unionByName(j(fNew, dNew))
        .orderBy("o_orderkey")
    }),

    // J11: grid-bucketed SPATIAL join — the banded-LSH candidate
    // pattern applied to geography: "every event within 100 km of a
    // hub" must never evaluate points × hubs at scale; instead points
    // land in (1° lat × 2° lon) grid cells once, each hub expands to
    // its 3×3 neighbor cells (cell sizes chosen so 100 km can never
    // escape the neighborhood at |lat| ≤ 60 — pigeonhole-complete,
    // the D8 argument), candidates equi-join on the cell key, and the
    // haversine verify runs only per collision. Coordinates derive
    // deterministically from ids via the md5-uniform ladder → both
    // engines compute identical doubles; the oracle is the EXHAUSTIVE
    // hub-cross filter (hubs are a bounded dim, so the oracle may be
    // quadratic where the engine must not) — the grid path is proven
    // to return exactly the exhaustive answer. Haversine is pure IEEE
    // + libm (asin/sin/cos last-ulp → round6, TXT11's discipline).
    "j11_spatial_join" -> ((s, d) => {
      val denom = lit(1152921504606846976L).cast("double") // 2^60
      def frac(c: Column, salt: String): Column =
        conv(substring(md5(concat(c.cast("string"), lit(salt))), 1, 15),
          16, 10).cast("long").cast("double") / denom
      val pts = Tables.events(s, d).select(col("event_id"),
        (frac(col("event_id"), ":lat") * 120 - 60).as("lat"),
        (frac(col("event_id"), ":lon") * 360 - 180).as("lon"))
      val hubs = Tables.nation(s, d).select(
        col("n_nationkey").as("hub_id"),
        (frac(col("n_nationkey"), ":hlat") * 120 - 60).as("hlat"),
        (frac(col("n_nationkey"), ":hlon") * 360 - 180).as("hlon"))
      val ptsCell = pts
        .withColumn("cy", floor(col("lat") / 1.0))
        .withColumn("cx", floor(col("lon") / 2.0))
      val offsets = array((for (dy <- -1 to 1; dx <- -1 to 1)
        yield struct(lit(dy).as("dy"), lit(dx).as("dx"))): _*)
      val hubCells = hubs
        .withColumn("o", explode(offsets))
        .select(col("hub_id"), col("hlat"), col("hlon"),
          (floor(col("hlat") / 1.0) + col("o.dy")).as("cy"),
          (floor(col("hlon") / 2.0) + col("o.dx")).as("cx"))
      val dist = lit(2.0) * lit(6371.0) * asin(sqrt(
        sin(radians((col("hlat") - col("lat")) / 2)) *
          sin(radians((col("hlat") - col("lat")) / 2)) +
        cos(radians(col("lat"))) * cos(radians(col("hlat"))) *
          sin(radians((col("hlon") - col("lon")) / 2)) *
          sin(radians((col("hlon") - col("lon")) / 2))))
      ptsCell.join(broadcast(hubCells), Seq("cy", "cx"))
        .withColumn("dist_km", dist)
        .filter(col("dist_km") <= 100.0)
        .select(col("event_id"), col("hub_id"),
          round(col("dist_km"), 6).as("dist_km"))
        .orderBy("event_id", "hub_id")
    }),

    // J3: point-lookup join against a small dim — broadcast explicitly.
    // Ref: scripts/06_strategy_signals.py:135 (price_data.at[date,'Close']).
    "j3_point_lookup" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"))
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_name"),
          col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // J6: salted shuffle join — the hot-key mitigation for skewed JOIN
    // keys at 100 TB (the join-side complement of A15). The fact side
    // salts every row deterministically (pmod(xxhash64(event_id), 16));
    // the dim side replicates ×16 carrying every salt value, so one
    // hot user_id spreads across 16 reducers instead of melting one.
    // The `merge` hint pins a shuffle join — a broadcast would mask
    // the mitigation this query demonstrates (and at real skew scale
    // the dim is too big to broadcast after replication). Result is
    // EXACTLY the plain equi join — which is what the oracle checks.
    "j6_salted_join" -> ((s, d) => {
      val salts = 16
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(salts.toLong)))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
        .withColumn("salt",
          explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
      ev.join(dim.hint("merge"),
          ev("user_id") === dim("c_custkey") && ev("salt") === dim("salt"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"),
          col("value"))
        .orderBy("event_id")
    }),

    // J7: the ENGINE-level skew mitigation — the same hot-key problem
    // J6 solves by hand (deterministic salting), answered by AQE's
    // OptimizeSkewedJoin: runtime shuffle statistics detect the
    // oversized partition and split it across reducers, with the
    // other side's matching partition replicated. Half the fact rows
    // collapse onto one join key (user_id % 10 < 5 → key 1), the
    // thresholds are scaled to the test data inside
    // [[withSkewJoinConfs]], and the plan assertion (PlanShapeSpec)
    // proves the skew split fired. localCheckpoint materializes the
    // join WHILE the configs are in force — the configs are restored
    // before the query returns, so they can't leak into whichever
    // query a Verify/Bench loop runs next. Result is EXACTLY the
    // plain remapped equi join — which is what the oracle checks.
    // README ("skew: manual salt vs AQE") documents when each applies.
    "j7_aqe_skew_join" -> ((s, d) =>
      withSkewJoinConfs(s) { aqeSkewJoinPlan(s, d).localCheckpoint() }
        .orderBy("event_id")),

    // P9: day slice written against the TRUNCATED column — the way
    // dashboards naturally phrase "show me Jan 10" — relying on the
    // PushDateTruncFilters optimizer rule (GraftExtensions) to add
    // the implied raw-ts bounds so the parquet scan prunes row
    // groups instead of full-scanning (PushDateTruncFiltersSpec
    // asserts the plan shape and exact result preservation; at
    // production scale the same rewrite unlocks partition pruning
    // on a day-partitioned table).
    "p9_day_slice" -> ((s, d) =>
      Tables.events(s, d)
        .filter(date_trunc("day", col("ts")) ===
          lit("2024-01-10 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(24,10)")).cast("double") /
            count(lit(1)), 6).as("avg_value"))
        .orderBy("event_type")),

    // J9: band join — classifying a fact column into a TINY table of
    // half-open value bands (price tiers) via a range-condition join.
    // With no equi key Catalyst plans BroadcastNestedLoopJoin — here
    // that is the CORRECT 100 TB shape, not a smell: the build side
    // is 4 fixed rows, so the "nested loop" is 4 comparisons per fact
    // row inside whole-stage codegen (same cost as the equivalent
    // CASE ladder) and the fact side never shuffles. The smell the
    // plan audit polices is BNLJ against an UNBOUNDED side; the
    // banding alternatives for large band tables are J1/J8's
    // equi-bucket prefix joins. NULL hi = open-ended top band.
    "j9_band_join" -> ((s, d) => {
      val tiers = s.createDataFrame(Seq(
          ("micro", 0.0, Some(100.0)),
          ("small", 100.0, Some(1000.0)),
          ("mid", 1000.0, Some(10000.0)),
          ("large", 10000.0, None: Option[Double])))
        .toDF("tier", "lo", "hi")
      Tables.orders(s, d)
        .join(broadcast(tiers),
          col("o_totalprice") >= col("lo") &&
            (col("hi").isNull || col("o_totalprice") < col("hi")))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"),
          (sum(col("o_totalprice").cast("decimal(24,10)")).cast("double"))
            .as("total"))
        .select(col("tier"), col("n"), round(col("total"), 6).as("total"))
        .orderBy("tier")
    }),

    // A1: grouped avg+count per (event_type, day) — the post-J1 aggregate.
    // Ref: scripts/05_lag_analysis.py:71-76.
    "a1_grouped_avg" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(r6(avg(col("value"))).as("avg_value"),
             count(lit(1)).as("n"))
        .orderBy("event_type", "day")),

    // A5: value_counts. Ref: scripts/06_strategy_signals.py:181-184.
    "a5_value_counts" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    // A6: distinct count. Ref: scripts/02_fetch_news.py:141.
    "a6_distinct_count" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")),

    // A15: salted two-stage aggregation — the hot-key mitigation for
    // skewed groupBy at 100 TB: stage 1 aggregates by (key, salt) so a
    // hot key spreads over 16 reducers; stage 2 merges the partials.
    // Result is EXACTLY the plain groupBy (oracle-checked): sums and
    // counts merge losslessly, avg derives from the merged pair.
    "a15_salted_agg" -> ((s, d) => {
      val partial = Tables.events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(sum(col("value").cast("decimal(24,10)")).as("ps"),
             count(lit(1)).as("pn"))
      partial
        .groupBy(col("event_type"))
        .agg((sum(col("ps")).cast("double") / sum(col("pn")))
          .cast("double").as("avg_value"),
          sum(col("pn")).as("n"))
        .select(col("event_type"), round(col("avg_value"), 6).as("avg_value"),
          col("n"))
        .orderBy("event_type")
    }),

    // A16: HyperLogLog approximate distinct — the 100 TB form of A6
    // (mergeable sketches, no shuffle of distinct values). Sketch
    // internals differ per engine → rows-only; the ≤5%-of-exact error
    // bound is asserted in ApproxAggSpec.
    "a16_approx_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("n_users"))
        .orderBy("event_type")),

    // A32: HLL sketch UNION — the pattern that makes approx-distinct
    // viable at 100 TB: sketch each partition ONCE (here: per day),
    // persist the sketches, and answer any rollup by merging them —
    // no rescan of the raw data, and the merge is tiny (one
    // fixed-size sketch per day vs re-shuffling every user_id).
    // A16 is the one-shot form; this is the incremental/rollup form
    // (Spark 3.5+ DataSketches HLL: hll_sketch_agg / hll_union_agg).
    // The estimate has no DuckDB twin → rows-only; ApproxAggSpec
    // anchors it ≤5% of the exact month-wide distinct AND asserts
    // grouping-invariance (merging day sketches ≡ sketching the
    // whole month — the associativity that makes the pattern safe).
    "a32_hll_union" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .agg(count(lit(1)).as("n_days"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))),

    // A53: Count-Min Sketch point-frequency estimates — the third leg
    // of the sketch family (A16/A32 = distinct via HLL, TXT9 = top-k
    // via SpaceSaving, this = per-key frequency). The sketch agg is
    // algebraic (map-side partial sketches merge), so 100 TB of
    // events collapse to ONE ~1 MB binary on the driver — the probe
    // of a fixed 20-key watchlist then costs zero cluster work, where
    // the exact A5-style groupBy shuffles every key. eps=1e-4,
    // δ=0.01: estimates overcount by ≤ eps·N = 10 w.p. 0.99 per key
    // (CMS never undercounts) — both bounds + merge associativity
    // asserted in ApproxAggSpec against the exact counts. Sketch
    // internals have no DuckDB twin → rows-only, anchored.
    // Fully LAZY (round 10 — it used to .head the sketch at plan
    // construction): the 1-row sketch aggregate is broadcast onto the
    // 20-row watchlist and the codegen CmsProbe kernel deserializes +
    // queries it per probe row (round 13 — was the suite's last Scala
    // UDF). The corpus scan runs only when the plan executes
    // (plan-only callers pay nothing), and the probe stays off the
    // cluster's hot path — 20 deserializations of a ~1 MB binary,
    // driver-pattern cost, executor location.
    "a53_cms_freq" -> ((s, d) => {
      val sk = Tables.events(s, d)
        .agg(expr("count_min_sketch(user_id, 0.0001d, 0.99d, 42)").as("sk"))
      s.range(0, 20).select(col("id").as("user_id"))
        .crossJoin(broadcast(sk))
        .select(col("user_id"),
          graft.functions.CmsProbe.probe(col("sk"), col("user_id"))
            .as("est_n"))
        .orderBy("user_id")
    }),

    // A59: HLL set ALGEBRA — what makes persisted sketches (A32) an
    // audience-analytics engine: distinct click users, distinct
    // purchase users, their UNION (lossless sketch merge), and their
    // INTERSECTION via inclusion–exclusion — all from two fixed-size
    // sketches built in ONE corpus pass, where the exact form
    // re-shuffles every user_id per question. Union inherits HLL's
    // rsd; intersection error compounds through I–E (fine when the
    // overlap is a large share, the audience case) — both bounds
    // asserted vs exact in ApproxAggSpec. Rows-only (sketch
    // internals).
    "a59_hll_set_algebra" -> ((s, d) =>
      Tables.events(s, d)
        .agg(
          expr("""hll_sketch_agg(CASE WHEN event_type = 'click'
                  THEN user_id END)""").as("skc"),
          expr("""hll_sketch_agg(CASE WHEN event_type = 'purchase'
                  THEN user_id END)""").as("skp"))
        .select(
          expr("hll_sketch_estimate(skc)").as("est_click"),
          expr("hll_sketch_estimate(skp)").as("est_purchase"),
          expr("hll_sketch_estimate(hll_union(skc, skp))").as("est_union"),
          (expr("hll_sketch_estimate(skc)") +
           expr("hll_sketch_estimate(skp)") -
           expr("hll_sketch_estimate(hll_union(skc, skp))"))
            .as("est_intersection"))),

    // A17: exact quantiles per group (linear interpolation — matches
    // DuckDB's quantile_cont). At scale the same query swaps
    // percentile→percentile_approx with identical plan shape.
    "a17_quantiles" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.75)"), 6).as("p75"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"))
        .orderBy("event_type")),

    // A25: median absolute deviation — the robust dispersion statistic
    // (outlier-immune where A7's stddev is not): MAD = median of
    // |x − median(x)| per group. Two exact-percentile passes; the
    // per-group medians are a GROUP-CARDINALITY row set, broadcast
    // back onto the fact scan (the a13 bounds pattern) — the corpus
    // shuffles once per pass, never to a single node.
    "a25_robust_mad" -> ((s, d) => {
      val med = Tables.events(s, d).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      Tables.events(s, d)
        .join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(round(max(col("med")), 6).as("med"),
          round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"))
        .orderBy("event_type")
    }),

    // A27: incremental aggregate maintenance — the don't-rescan-history
    // pattern every nightly rollup runs at 100 TB: partial aggregates
    // of the history and of the new delta MERGE into the exact full
    // aggregate ((count, decimal-sum) is algebraic), so refreshing a
    // rollup costs O(delta), not O(history). The oracle is the plain
    // full-scan aggregate — equality IS the maintenance invariant.
    "a27_incremental_rollup" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      def partial(df: DataFrame): DataFrame =
        df.groupBy("event_type")
          .agg(count(lit(1)).as("pn"),
            sum(col("value").cast("decimal(24,10)")).as("psv"))
      partial(ev.filter(col("event_id") % 10 < 8))
        .unionByName(partial(ev.filter(col("event_id") % 10 >= 8)))
        .groupBy("event_type")
        .agg(sum(col("pn")).as("n"), sum(col("psv")).as("sv"))
        .select(col("event_type"), col("n"),
          round(col("sv").cast("double"), 6).as("total"),
          round(col("sv").cast("double") / col("n"), 6).as("avg_value"))
        .orderBy("event_type")
    }),

    // A18: approximate quantiles — the 100 TB form of A17.
    // percentile_approx is a mergeable rank sketch (map-side
    // combinable, memory bounded by the accuracy parameter), where
    // exact percentile buffers every group value; at accuracy 1000
    // the guaranteed rank error is n/1000 per group. Sketch internals
    // have no DuckDB equivalent → rows-only; ApproxAggSpec asserts
    // every approx quantile lands inside the exact ±1%-rank band of
    // the oracle-checked A17 baseline.
    "a18_approx_quantiles" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile_approx(value, 0.25, 1000)"), 6).as("p25"),
          round(expr("percentile_approx(value, 0.5, 1000)"), 6).as("p50"),
          round(expr("percentile_approx(value, 0.75, 1000)"), 6).as("p75"),
          round(expr("percentile_approx(value, 0.95, 1000)"), 6).as("p95"))
        .orderBy("event_type")),

    // A19: hierarchical ROLLUP — (type, day), per-type, and grand
    // totals in ONE pass (Spark expands the grouping sets inside a
    // single hash aggregate; no Union of three scans). Subtotal rows
    // are marked via grouping() — NOT by coalescing NULL keys — so a
    // naturally-NULL event_type/day row could never masquerade as a
    // subtotal (both engines use the same GROUPING() marker).
    // Decimal-sum avg: partial-agg order per grouping set differs
    // from DuckDB's, exact sums don't care.
    "a19_rollup" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("day",
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(24,10)")).cast("double") /
            count(lit(1)), 6).as("avg_value"),
          grouping(col("event_type")).as("g_et"),
          grouping(col("day")).as("g_day"))
        .select(
          when(col("g_et") === 1, lit("(all)"))
            .otherwise(col("event_type")).as("event_type"),
          when(col("g_day") === 1, lit("(all)"))
            .otherwise(col("day")).as("day"),
          col("n"), col("avg_value"))
        .orderBy("event_type", "day")),

    // A23: full CUBE — all 8 grouping sets of (type, day, value
    // bucket) in ONE pass (same single-Expand + hash-agg plan as A19,
    // asserted in PlanShapeSpec). grouping_id() disambiguates the
    // sets exactly — two rows with identical '(all)' markers but
    // different provenance can never collide — and the per-column
    // grouping() markers keep data NULLs distinct from subtotals
    // (same contract as A19). Bit order: first cube column is the
    // most significant grouping_id bit on BOTH engines (verified
    // against DuckDB's GROUPING(a,b,c)).
    "a23_cube" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("day",
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
        .withColumn("bucket",
          when(col("value") > 100, lit("high")).otherwise(lit("low")))
        .cube(col("event_type"), col("day"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(24,10)")).cast("double") /
            count(lit(1)), 6).as("avg_value"),
          grouping_id().cast("long").as("gid"),
          grouping(col("event_type")).as("g_et"),
          grouping(col("day")).as("g_day"),
          grouping(col("bucket")).as("g_b"))
        .select(
          when(col("g_et") === 1, lit("(all)"))
            .otherwise(col("event_type")).as("event_type"),
          when(col("g_day") === 1, lit("(all)"))
            .otherwise(col("day")).as("day"),
          when(col("g_b") === 1, lit("(all)"))
            .otherwise(col("bucket")).as("bucket"),
          col("gid"), col("n"), col("avg_value"))
        .orderBy("gid", "event_type", "day", "bucket")),

    // A20: pivot — per-user event-type counts as columns (the
    // wide-format table every dashboard heatmap/chart consumes;
    // S14's chart pivot generalized to N columns). Values are
    // ENUMERATED, which is what keeps pivot scale-safe: Spark plans
    // one pass with a fixed column set instead of collecting distinct
    // values to the driver first. Absent combinations are 0, not NULL.
    "a20_pivot" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"),
          col("click").as("n_click"), col("error").as("n_error"),
          col("purchase").as("n_purchase"), col("signup").as("n_signup"),
          col("view").as("n_view"))
        .orderBy("user_id")),

    // A26: UNPIVOT — the reshape inverse of A20: the wide per-user
    // count table melts back to long (user_id, event_type, n) via the
    // native unpivot operator (an Expand over the value columns, one
    // pass — not a Union of N projections). Composing A20's pivot
    // with this unpivot must reproduce the plain GROUP BY, which is
    // exactly what the oracle checks (absent combinations were filled
    // with 0 by the pivot, so the round trip drops n = 0 rows to
    // recover the original sparse form).
    "a26_unpivot" -> ((s, d) =>
      queries("a20_pivot")(s, d)
        .unpivot(Array(col("user_id")),
          Array(col("n_click"), col("n_error"), col("n_purchase"),
            col("n_signup"), col("n_view")),
          "event_type", "n")
        .withColumn("event_type",
          regexp_replace(col("event_type"), "^n_", ""))
        .filter(col("n") > 0)
        .orderBy("user_id", "event_type")),

    // A30: cohort retention matrix — the engagement-analytics staple
    // the reference's dashboard stops short of: users cohorted by
    // FIRST-activity day, each (cohort, day-offset) cell counts the
    // cohort's users active that day, retention = cell / cohort size.
    // All cells are exact integer counts and the share is ONE division
    // of two longs — bit-identical IEEE on both engines, no rounding
    // grid. Scale: first-activity and distinct-activity-days aggregate
    // in the same user_id shuffle (the join is co-partitioned on it),
    // cohort sizes are a tiny broadcast.
    "a30_cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
      val firstDay = ev.groupBy("user_id")
        .agg(min(col("day")).as("cohort_day"))
      val sizes = firstDay.groupBy("cohort_day")
        .agg(count(lit(1)).as("cohort_size"))
      ev.join(firstDay, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long")
            .as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), "cohort_day")
        .select(col("cohort_day"), col("day_offset"), col("n_active"),
          col("cohort_size"),
          (col("n_active").cast("double") / col("cohort_size"))
            .as("retention"))
        .orderBy("cohort_day", "day_offset")
    }),

    // A31: co-occurrence (market-basket) pairs — which event types
    // appear together in the same (user, day) basket, with support
    // counts and the share over all baskets. The pair join shuffles
    // on the basket key (user, day), so candidates stay inside a
    // ≤|types| group — output is C(|types|,2)-bounded per basket,
    // never quadratic in events. Share is one long/long division
    // (exact IEEE); the basket total rides in as a 1-row broadcast.
    "a31_cooccurrence" -> ((s, d) => {
      val baskets = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
          col("event_type"))
        .distinct()
      val total = baskets.select(col("user_id"), col("day")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      baskets.as("a").join(baskets.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.day") === col("b.day") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(total))
        .select(col("type_a"), col("type_b"), col("support"),
          (col("support").cast("double") / col("n_baskets"))
            .as("support_share"))
        .orderBy("type_a", "type_b")
    }),

    // A75: market-basket association rules — A31 stops at support;
    // the retail/recommender standard adds the DIRECTION and the
    // chance correction: per order the distinct brand set (lineitem
    // ⋈ broadcast part — the canonical star join), pairs via the
    // keyed self-join on orderkey (per-basket quadratic, ≤ C(25,2)
    // brand pairs — never corpus-quadratic), then
    // confidence(a→b) = n_ab/n_a and lift = n_ab·N/(n_a·n_b) (> 1 ⇔
    // positively associated). Exact integer counts into single
    // raw-double divisions (the W24 discipline); brand marginals are
    // a 25-row broadcast; min-support 5 kills noise rules. Fully
    // oracle-checked.
    "a75_basket_lift" -> ((s, d) => {
      // items feeds FOUR subtrees (nb, bc, both self-join sides) —
      // persisted LAZILY so each re-use reads the cached basket table
      // instead of re-running the lineitem scan + broadcast join +
      // distinct (round 14, guide §5; an eager localCheckpoint was
      // measured SLOWER here — 1.5 → 2.0 s — the extra serialized job
      // costs more than the duplicated subtrees at this scale).
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_partkey"))
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("okey"), col("p_brand").as("brand"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nb = items.select(col("okey")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val bc = items.groupBy(col("brand")).agg(count(lit(1)).as("n1"))
      items.as("a").join(items.as("b"),
          col("a.okey") === col("b.okey") &&
            col("a.brand") < col("b.brand"))
        .groupBy(col("a.brand").as("brand_a"),
          col("b.brand").as("brand_b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 5)
        .join(broadcast(bc.select(col("brand").as("brand_a"),
          col("n1").as("n_a"))), Seq("brand_a"))
        .join(broadcast(bc.select(col("brand").as("brand_b"),
          col("n1").as("n_b"))), Seq("brand_b"))
        .crossJoin(broadcast(nb))
        .select(col("brand_a"), col("brand_b"), col("support"),
          col("n_a"), col("n_b"),
          (col("support").cast("double") / col("n_a")).as("confidence"),
          ((col("support") * col("n_baskets")).cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("lift"))
        .orderBy("brand_a", "brand_b")
    }),

    // A76: market concentration (HHI + CR4) — the antitrust/market-
    // structure block (the regulator's own metric: HHI > 2500 =
    // highly concentrated): per nation, supplier revenue shares from
    // the decimal-exact TPC-H revenue expression, HHI = 10000·Σs²
    // and CR4 = the top-4 share sum. Every sum (supplier revenue,
    // nation total, Σshare², CR4) is decimal-pinned → association-
    // order-free, so the per-nation folds never depend on merge
    // order no matter how many suppliers a 100 TB nation has; shares
    // are elementwise raw divisions; the top-4 pick is an exact
    // (revenue, suppkey) rank window per nation. One lineitem pass;
    // supplier/nation dims broadcast. Fully oracle-checked.
    "a76_hhi_concentration" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(24,10)")).cast("double").as("rev"))
      // nation totals via windows, not a groupBy+self-join: a
      // DataFrame consumed twice re-executes its subtree (two
      // lineitem scans — caught by PlanShapeSpec), while the three
      // windows share one s_nationkey exchange over the
      // O(suppliers) frame
      val wN = Window.partitionBy("s_nationkey")
      val shares = rev
        .withColumn("tot",
          sum(col("rev").cast("decimal(30,12)")).over(wN).cast("double"))
        .withColumn("n_suppliers", count(lit(1)).over(wN))
        .withColumn("share", col("rev") / col("tot"))
        .withColumn("rk", row_number().over(
          wN.orderBy(col("rev").desc, col("s_suppkey"))))
      shares.groupBy(col("s_nationkey"))
        .agg(max(col("n_suppliers")).as("n_suppliers"),
          max(col("tot")).as("total_rev"),
          (sum((col("share") * col("share")).cast("decimal(30,12)"))
            .cast("double") * 10000).as("hhi"),
          sum(when(col("rk") <= 4, col("share").cast("decimal(30,12)"))
            .otherwise(lit(0).cast("decimal(30,12)")))
            .cast("double").as("cr4"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_suppliers"),
          r6(col("total_rev")).as("total_rev"), r6(col("hhi")).as("hhi"),
          r6(col("cr4")).as("cr4"))
        .orderBy("n_name")
    }),

    // A36: RFM segmentation — the classic user-value scoring: per user
    // Recency (days from last activity to the corpus horizon),
    // Frequency (events), Monetary (decimal-exact value sum), each
    // quartile-scored with ntile over a DETERMINISTIC total order
    // (metric, user_id — ntile ties are order-dependent, so the
    // tiebreak is part of the contract and the oracle's OVER clauses
    // mirror it; R orders ASCENDING so quartile 1 = most recent).
    // One hash agg + three O(users)-row window passes; the horizon is
    // a 1-row broadcast.
    "a36_rfm" -> ((s, d) => {
      val per = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"),
          count(lit(1)).as("frequency"),
          sum(col("value").cast("decimal(24,10)")).cast("double")
            .as("monetary"))
      val horizon = Tables.events(s, d).agg(max(col("ts")).as("h"))
      per.crossJoin(broadcast(horizon))
        .withColumn("recency_days",
          datediff(col("h"), col("last_ts")).cast("long"))
        .withColumn("r_q", ntile(4).over(
          Window.orderBy(col("recency_days"), col("user_id"))))
        .withColumn("f_q", ntile(4).over(
          Window.orderBy(col("frequency").desc, col("user_id"))))
        .withColumn("m_q", ntile(4).over(
          Window.orderBy(col("monetary").desc, col("user_id"))))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          r6(col("monetary")).as("monetary"),
          col("r_q").cast("long").as("r_q"),
          col("f_q").cast("long").as("f_q"),
          col("m_q").cast("long").as("m_q"),
          concat(col("r_q").cast("string"), col("f_q").cast("string"),
            col("m_q").cast("string")).as("rfm"))
        .orderBy("user_id")
    }),

    // A7: stats block — min/max/mean/std + share above threshold.
    // Ref: scripts/03_add_sentiment.py:36-42.
    "a7_stats_block" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(r6(min(col("value"))).as("min_v"),
             r6(max(col("value"))).as("max_v"),
             r6(avg(col("value"))).as("mean_v"),
             r6(stddev_samp(col("value"))).as("std_v"),
             r6(sum(when(col("value") > 100, 1.0).otherwise(0.0)) /
               count(lit(1))).as("pct_high"))
        .orderBy("event_type")),

    // A22: higher-moment block — per-group skewness and excess
    // kurtosis, the distribution-shape aggregates A7/A10 stop short
    // of. Spark's built-ins are the POPULATION forms (m3/m2^1.5 and
    // m4/m2²−3); DuckDB's skewness/kurtosis apply sample bias
    // correction, so the oracle derives the population moments
    // explicitly instead of calling them. r6 absorbs the engines'
    // different moment-update arithmetic (streaming updates vs
    // two-pass), the same tolerance convention as the A7/A10 blocks.
    "a22_moments" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(r6(skewness(col("value"))).as("skew"),
             r6(kurtosis(col("value"))).as("kurt"))
        .orderBy("event_type")),

    // O1: global sort + limit (top-k). Ref: scripts/02_fetch_news.py:130.
    // Scale: orderBy+limit plans as TakeOrderedAndProject — no full sort.
    "o1_sort_limit" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("value"))
        .orderBy(col("value").desc, col("event_id"))
        .limit(500)),

    // O2/U2: sorted date spine = union of two tables' date sets.
    // Ref: scripts/07_backtest.py:202-205.
    "o2_date_spine" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).as("day"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2000-01-01 00:00:00"))
        .select(date_trunc("day", col("o_orderdate")).as("day"))
      e.union(o).distinct().orderBy("day")
    }),

    // U1: unionByName with missing columns (schema drift between batches).
    // Ref: scripts/02_fetch_news.py:114.
    "u1_union_by_name" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      val b = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
      a.unionByName(b, allowMissingColumns = true).orderBy("event_id")
    }),

    // U3: membership exclusion — customers with no RECENT order
    // (left_anti vs the 1998+ order slice; every customer in this
    // testdata has *some* order, so the unfiltered form is vacuous).
    // Ref: ingestion/producer.py:187 (seen_ids filter).
    "u3_anti_join" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1998-01-01 00:00:00"))
        .select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .orderBy("c_custkey")
    }),

    // SQL1: the SQL front-end — TPC-H Q1 submitted as a SQL STRING
    // through spark.sql over a registered view, not the DataFrame API.
    // Same Catalyst plan either way (that's the point: the engine's
    // two query surfaces are one engine), and the oracle runs the
    // near-identical text in DuckDB. Sums go through DECIMAL so
    // partial-agg order can't flip a rounding boundary; disc_price
    // is computed per-row in DECIMAL before the sum for the same
    // reason.
    "sql1_tpch_q1" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(24,10))) AS DOUBLE)
                 AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(24,10))) AS DOUBLE)
                 AS sum_base_price,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(24,10))) AS DOUBLE)
                 AS sum_disc_price,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(24,10))) AS DOUBLE)
                     / count(*), 6) AS avg_qty,
               count(*) AS count_order
        FROM lineitem_v
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    }),

    // SQL2: TPC-H Q3 through the SQL front-end — where SQL1 proves the
    // surface on a single-table aggregate, Q3 drives it through JOIN
    // PLANNING: a 3-way join (customer ⋈ orders ⋈ lineitem) with
    // selective filters on every input, an aggregate over the join,
    // and a top-10 that must plan as TakeOrderedAndProject (asserted
    // in PlanShapeSpec), not a global sort. The customer side is
    // segment-filtered and tiny → Catalyst broadcasts it; revenue
    // sums through DECIMAL so partial-agg order can't flip rounding.
    // Tiebreak on l_orderkey makes the top-10 deterministic.
    "sql2_tpch_q3" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_orderkey,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(24,10))) AS DOUBLE), 6) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer_v JOIN orders_v ON c_custkey = o_custkey
             JOIN lineitem_v ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10""")
    }),

    // SQL3: TPC-H Q5 — the 6-way join (customer ⋈ orders ⋈ lineitem ⋈
    // supplier ⋈ nation ⋈ region) through the SQL surface: the query
    // that exercises JOIN REORDERING and the snowflake dimension walk
    // (region → nation are tiny broadcasts; the c_nationkey =
    // s_nationkey residual makes one join non-trivially selective).
    // Also the only query family touching region/nation, completing
    // table coverage of the test catalog. Decimal revenue sums, as in
    // SQL1/SQL2.
    "sql3_tpch_q5" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      Tables.region(s, d).createOrReplaceTempView("region_v")
      s.sql("""
        SELECT n_name,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(24,10))) AS DOUBLE), 6) AS revenue
        FROM customer_v
             JOIN orders_v   ON c_custkey = o_custkey
             JOIN lineitem_v ON l_orderkey = o_orderkey
             JOIN supplier_v ON l_suppkey = s_suppkey
                            AND c_nationkey = s_nationkey
             JOIN nation_v   ON s_nationkey = n_nationkey
             JOIN region_v   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name""")
    }),

    // SQL4: correlated EXISTS (TPC-H Q4 shape) — the subquery surface
    // SQL1–3 don't touch: a per-row EXISTS that Catalyst must
    // DECORRELATE into a left-semi join (plan-asserted; a naive
    // engine re-executes the inner query per outer row — the
    // difference between one keyed join and |orders| scans at 100 TB).
    "sql4_exists_subquery" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders_v
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem_v
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAYS)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    }),

    // SQL5: correlated SCALAR subquery (TPC-H Q17 shape) — a per-part
    // aggregate threshold referenced from the outer WHERE; Catalyst
    // decorrelates it into one grouped aggregate joined back on the
    // correlation key (plan-asserted: no per-row subquery execution).
    "sql5_scalar_subquery" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(24,10)))
                     AS DOUBLE) / 7.0, 6) AS avg_yearly
        FROM lineitem_v l JOIN part_v p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                              FROM lineitem_v l2
                              WHERE l2.l_partkey = p.p_partkey)""")
    }),

    // SQL6: window functions through the SQL front-end — the surface
    // SQL1–SQL5 don't touch: a ranking (row_number), an offset (lag),
    // and a windowed aggregate (count) over the same partition key,
    // filtered to a per-customer top-3. All three specs partition by
    // o_custkey, so Catalyst plans ONE hash shuffle feeding the
    // Window operators — the per-entity window shape that scales
    // evenly. Pure value shuffling (no float aggregation), so every
    // column is exact. Tiebreak on o_orderkey pins determinism.
    "sql6_window_topn" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c_custkey, o_orderkey, o_totalprice, rnk, prev_price,
               n_orders
        FROM (
          SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
                 lag(o_totalprice) OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS prev_price,
                 count(*) OVER (PARTITION BY o_custkey) AS n_orders
          FROM orders_v)
        WHERE rnk <= 3
        ORDER BY c_custkey, rnk""")
    }),

    // SQL7: WITH RECURSIVE through Spark's OWN SQL surface (4.x adds
    // recursive CTEs, planned as UnionLoop) — transitive closure +
    // min-reachable labeling over the SAME near-dup edge slice D10
    // resolves with the iterative DataFrame algorithm, and the SAME
    // DuckDB recursive oracle: the engine's two component paths
    // (driver-side loop vs in-plan recursion) must land on identical
    // clusters (spec-asserted sql7 ≡ d10 row-for-row). Spark's rCTE
    // accepts only UNION ALL in the recursive step, so on this CYCLIC
    // (undirected) edge set termination comes from an explicit level
    // bound instead of dedup: depth 8 ≫ the cluster diameter (near-dup
    // components are ≤3 docs here — DedupSpec pins it ≤ 8), making the
    // bounded walk EXACT, and walk multiplicity is absorbed by the
    // final min/GROUP BY. Scale note: in-plan recursion re-joins the
    // frontier per level and multiplies walks on cycles — right for
    // shallow closures like dup clusters; the D10 driver loop with
    // lineage truncation remains the deep-graph path.
    "sql7_recursive_closure" -> ((s, d) => {
      Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id")).createOrReplaceTempView("docs_v")
      TextAnalysis.slicePairs100(s, d)
        .select(col("da"), col("db")).createOrReplaceTempView("pairs_v")
      s.sql(s"""
        WITH RECURSIVE
          edges AS (SELECT da AS src, db AS dst FROM pairs_v
                    UNION SELECT db AS src, da AS dst FROM pairs_v),
          reach AS (
            SELECT doc_id AS id, doc_id AS r, 0 AS lvl FROM docs_v
            UNION ALL
            SELECT reach.id, e.dst, reach.lvl + 1 FROM reach
            JOIN edges e ON reach.r = e.src
            WHERE reach.lvl < $Sql7SliceDepth)
        SELECT id AS doc_id, min(r) AS canonical_id FROM reach
        GROUP BY id ORDER BY doc_id""")
    }),

    // SQL7b: the same in-plan recursion over the FULL corpus — the
    // recursive-CTE path consuming the PRODUCTION edge graph (the
    // banded-LSH → exact-verify J ≥ 0.5 materialized table D10b/D12b
    // share) instead of the demo slice. The depth bound tracks the
    // MEASURED graph: corpus dup clusters are ≤ 4 docs at every SF
    // (diameter ≤ 3), so depth 4 = diameter + 1 margin is exact —
    // and the bound is load-bearing at scale, not cosmetic: bounded
    // UNION ALL walks multiply as Σ deg^depth over edge-endpoints,
    // and the slice variant's depth 8 blew Spark's 10⁶ recursion-row
    // safety limit on the 10× ScaleProbe replica where depth 4 walks
    // 16× fewer rows (the documented rCTE trade-off: in-plan
    // recursion for shallow closures, the D10 driver loop for deep
    // graphs). Exactness is double-guarded: fully oracle-checked
    // against the exhaustive exact-Jaccard graph + recursive closure
    // (d10_cc_corpus's oracle), and spec-asserted row-identical to
    // the iterative DataFrame components — a cluster outgrowing the
    // depth bound fails both comparisons loudly.
    "sql7_closure_corpus" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"))
        .createOrReplaceTempView("docs_corpus_v")
      Dedup.corpusPairs(s, d).createOrReplaceTempView("pairs_corpus_v")
      s.sql(s"""
        WITH RECURSIVE
          edges AS (SELECT da AS src, db AS dst FROM pairs_corpus_v
                    UNION SELECT db AS src, da AS dst FROM pairs_corpus_v),
          reach AS (
            SELECT doc_id AS id, doc_id AS r, 0 AS lvl FROM docs_corpus_v
            UNION ALL
            SELECT reach.id, e.dst, reach.lvl + 1 FROM reach
            JOIN edges e ON reach.r = e.src
            WHERE reach.lvl < $Sql7CorpusDepth)
        SELECT id AS doc_id, min(r) AS canonical_id FROM reach
        GROUP BY id ORDER BY doc_id""")
    }),

    // SQL8: correlated LATERAL subquery with ORDER BY + LIMIT — the
    // "top-2 line items per part" shape through the declarative SQL
    // path (SQL6 is the window-function form of top-n; LATERAL is the
    // correlated form every migrating Postgres/DuckDB user writes).
    // Spark 4 decorrelates the limited lateral into a ranked
    // window/join plan — NOT a per-row nested loop — so it scales as
    // a keyed shuffle; parts without line items drop (inner lateral),
    // identically on both engines. Oracle is the same text.
    "sql8_lateral_topn" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT p.p_partkey, p.p_brand, t.l_orderkey, t.l_linenumber,
               t.l_extendedprice
        FROM part_v p,
        LATERAL (SELECT l_orderkey, l_linenumber, l_extendedprice
                 FROM lineitem_v l
                 WHERE l.l_partkey = p.p_partkey
                 ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
                 LIMIT 2) t
        ORDER BY p.p_partkey, t.l_orderkey, t.l_linenumber""")
    }),

    // SQL9: the DDL/catalog surface — CREATE a partitioned managed
    // table, INSERT the daily rollup through dynamic partitions, read
    // it back through the catalog. What a warehouse user does all day
    // and nothing else in the suite exercises: table lifecycle,
    // catalog resolution, partitioned managed storage (spark-warehouse).
    // DROP + CREATE each run keeps the query idempotent across bench
    // reps; the partition column is the query's coarse access path
    // (partition pruning on event_type for any later reader). Oracle =
    // the same rollup straight off the fact table: the round trip
    // through the catalog must be lossless.
    "sql9_ddl_insert" -> ((s, d) => {
      val tbl = "graft_sql9_daily"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      // the in-memory catalog of a fresh JVM does not know a previous
      // run's managed table, so DROP alone leaves its warehouse
      // location orphaned and CREATE fails on LOCATION_ALREADY_EXISTS
      // — purge the location explicitly
      graft.Fs.deleteRecursively(new java.io.File(
        new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath,
        tbl))
      s.sql(s"""CREATE TABLE $tbl
        (day TIMESTAMP, n BIGINT, avg_value DOUBLE, event_type STRING)
        USING parquet PARTITIONED BY (event_type)""")
      Tables.events(s, d).createOrReplaceTempView("events_v_sql9")
      s.sql(s"""INSERT INTO $tbl
        SELECT date_trunc('day', ts) AS day, count(*) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(24,10))) AS DOUBLE)
                     / count(*), 6) AS avg_value,
               event_type
        FROM events_v_sql9 GROUP BY date_trunc('day', ts), event_type""")
      s.sql(s"SELECT event_type, day, n, avg_value FROM $tbl " +
        "ORDER BY event_type, day")
    }),

    // SQL10: explicit GROUPING SETS through the SQL front-end — the
    // third member of the grouping family (A19 ROLLUP is the prefix
    // chain, A23 CUBE the power set); an EXPLICIT set list expresses
    // what neither can: here (type, day), (type), (day) — per-day
    // totals WITHOUT a grand total. Catalyst plans one Expand over one
    // aggregate, same single-pass shape a19/a23 plan-assert. GROUPING()
    // markers distinguish subtotal rows from data (the a19 fix).
    "sql10_grouping_sets" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_v_sql10")
      s.sql("""
        SELECT CASE WHEN GROUPING(event_type) = 1 THEN '(all)'
                    ELSE event_type END AS event_type,
               CASE WHEN GROUPING(day) = 1 THEN '(all)'
                    ELSE day END AS day,
               count(*) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(24,10))) AS DOUBLE)
                     / count(*), 6) AS avg_value
        FROM (SELECT event_type,
                     date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day,
                     value
              FROM events_v_sql10)
        GROUP BY GROUPING SETS ((event_type, day), (event_type), (day))
        ORDER BY event_type, day""")
    }),

    // SQL11: TPC-H Q10 shape — returned-item revenue by customer over
    // a quarter: a 4-way join where the FACT side (lineitem) is
    // flag-filtered, the mid table (orders) date-filtered, and the
    // dimensions (customer, nation) broadcast; the grouped revenue
    // tops out with LIMIT 20 → TakeOrderedAndProject, never a global
    // sort. Exercises the mixed join tree SQL2/SQL3 don't: a
    // selective fact filter UNDER a selective mid-table filter, where
    // join order (orders⋈lineitem first, dims after) decides whether
    // the big shuffle carries 3 columns or 8. Decimal revenue sums;
    // c_custkey tiebreak pins the top-20.
    "sql11_tpch_q10" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT c_custkey, c_name,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(24,10))) AS DOUBLE), 6) AS revenue,
               c_acctbal, n_name
        FROM customer_v
             JOIN orders_v   ON c_custkey = o_custkey
             JOIN lineitem_v ON l_orderkey = o_orderkey
             JOIN nation_v   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20""")
    }),

    // SQL12: TPC-H Q18 shape — large-volume orders: an IN subquery
    // whose inner is itself a grouped HAVING aggregate over the fact
    // table. Catalyst decorrelates the IN into a left-semi join
    // against the aggregated key set — the fact table is aggregated
    // ONCE for the filter and once for the output sum, never
    // re-executed per row (the per-row form is |orders| scans at
    // 100 TB). Quantity sums through DECIMAL on both engines.
    "sql12_tpch_q18" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(sum(CAST(l_quantity AS DECIMAL(24,10))) AS DOUBLE)
                 AS total_qty
        FROM customer_v
             JOIN orders_v   ON c_custkey = o_custkey
             JOIN lineitem_v ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem_v
                             GROUP BY l_orderkey
                             HAVING sum(l_quantity) > 300)
        GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20""")
    }),

    // SQL13: TPC-H Q19 shape — an OR of three brand/size/quantity
    // conjunctions across a join. The planner test here is predicate
    // DECOMPOSITION: from the disjunction Catalyst must still derive
    // the common join key plus per-side implied filters
    // (p_brand IN (…) pushes to the part scan, the l_quantity
    // envelope to the lineitem scan) so both inputs prune BEFORE the
    // join, with the full disjunction left as a residual — an engine
    // that only pushes conjuncts scans everything at 100 TB. Part is
    // tiny → broadcast.
    "sql13_disjunctive_scan" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_returnflag,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(24,10))) AS DOUBLE), 6) AS revenue,
               count(*) AS n
        FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 30)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 5 AND 40)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 10 AND 50)
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    }),

    // SQL14: TPC-H Q13 shape — the orders-per-customer distribution:
    // a LEFT OUTER join whose residual filter lives in the ON clause
    // (move it to WHERE and zero-order customers silently vanish —
    // the classic outer-join bug this query exists to catch), then
    // TWO stacked aggregates (per-customer count, then the histogram
    // of counts). The zero bucket is real data: customers with no
    // non-urgent orders must appear at c_count = 0.
    "sql14_tpch_q13" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer_v LEFT OUTER JOIN orders_v
                ON c_custkey = o_custkey
               AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")
    }),

    // SQL15: TPC-H Q14 shape — promo revenue share: a conditional
    // aggregate (CASE inside sum) over a month-sliced join, the
    // numerator/denominator-in-one-pass pattern (two scans of the
    // join would double the dominant cost at 100 TB). Both sums run
    // through DECIMAL; the share divides once at the end.
    "sql15_tpch_q14" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(24,10))
                   ELSE CAST(0 AS DECIMAL(24,10)) END) AS DOUBLE) /
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(24,10))) AS DOUBLE), 6) AS promo_share
        FROM lineitem_v JOIN part_v ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'""")
    }),

    // SQL16: the PIVOT clause through the SQL front-end — A20 proves
    // the DataFrame pivot; this is the declarative surface form
    // (Spark parses PIVOT into the same single-aggregate plan — no
    // per-column scan fan-out, same shape A20's PlanShapeSpec test
    // asserts). Values enumerated explicitly (the 100 TB rule: an
    // unenumerated pivot needs a driver-side distinct pass first).
    // DuckDB's PIVOT syntax differs, so the oracle states the same
    // result as conditional aggregates — the comparison is on
    // results, not syntax.
    "sql16_pivot" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_v_sql16")
      // count over an absent (user, type) cell is NULL in pivot
      // semantics (aggregate of an empty group) — coalesce to the 0
      // a conditional-aggregate formulation produces
      s.sql("""
        SELECT user_id,
               coalesce(click, CAST(0 AS BIGINT)) AS n_click,
               coalesce(error, CAST(0 AS BIGINT)) AS n_error,
               coalesce(purchase, CAST(0 AS BIGINT)) AS n_purchase,
               coalesce(signup, CAST(0 AS BIGINT)) AS n_signup,
               coalesce(view, CAST(0 AS BIGINT)) AS n_view
        FROM (SELECT user_id, event_type FROM events_v_sql16)
             PIVOT (count(*)
                    FOR event_type IN ('click' AS click, 'error' AS error,
                                       'purchase' AS purchase,
                                       'signup' AS signup,
                                       'view' AS view))
        ORDER BY user_id""")
    }),

    // SQL18: TPC-H Q21 shape — the hardest decorrelation pattern in
    // the TPC-H suite: a correlated EXISTS (another supplier on the
    // same order) AND a correlated NOT EXISTS (another LATE supplier
    // on the same order) against the SAME fact table, both carrying a
    // non-equality correlated predicate (l_suppkey <>). Catalyst must
    // plan BOTH as keyed left-semi / left-anti joins on l_orderkey —
    // a naive engine re-scans lineitem per outer row, the difference
    // between 3 keyed shuffles and |lineitem|² at 100 TB. The
    // testdata has no l_commitdate/l_receiptdate, so "late" is
    // l_shipdate > o_orderdate + 45 days (joined through orders
    // inside the subquery, keeping the inner block self-contained
    // exactly as Q21's receipt/commit comparison is). Count-only
    // aggregate → no float risk; fully oracle-checked.
    // Ref workload shape: scripts/07_backtest.py's per-order state
    // checks; surface-parity extension (SURVEY §2.4 SQL family).
    "sql18_tpch_q21" -> ((s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT s_name, count(*) AS numwait
        FROM supplier_v
             JOIN lineitem_v l1 ON s_suppkey = l1.l_suppkey
             JOIN orders_v o    ON o_orderkey = l1.l_orderkey
             JOIN nation_v      ON s_nationkey = n_nationkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
          AND EXISTS (SELECT 1 FROM lineitem_v l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem_v l3
                               JOIN orders_v o3
                                 ON l3.l_orderkey = o3.o_orderkey
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate >
                                o3.o_orderdate + INTERVAL 45 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100""")
    }),

    // SQL19: TPC-H Q22 shape — an UNCORRELATED scalar subquery (the
    // global mean balance, computed once and broadcast as a 1-row
    // literal, never per-row) gating a correlated NOT EXISTS (lapsed
    // customers: no order since the cutoff — the anti-join). The
    // threshold is decimal-exact sum ÷ count cast through double, so
    // both engines compare against the bit-identical IEEE value and
    // no boundary row can flip. Q22's phone-prefix grouping maps to
    // c_nationkey (the testdata's country attribute).
    "sql19_tpch_q22" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c_nationkey AS cntry, count(*) AS numcust,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(24,10)))
                     AS DOUBLE), 6) AS totacctbal
        FROM customer_v c
        WHERE c_acctbal >
              (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(24,10)))
                      AS DOUBLE) / count(*)
               FROM customer_v WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders_v o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >=
                                TIMESTAMP '2000-06-01 00:00:00')
        GROUP BY c_nationkey
        ORDER BY cntry""")
    }),

    // SQL20: TPC-H Q7 shape (volume shipping) — the nation SELF-JOIN
    // the suite lacked: the same dimension participates twice under
    // different roles (supplier's nation vs customer's nation), with
    // a DISJUNCTIVE cross-role predicate (pair (1,2) OR (2,1)) that
    // cannot collapse into either single join. Both nation sides are
    // tiny broadcasts; the fact chain shuffles on its join keys only.
    // Decimal-exact revenue, grouped by the derived year.
    "sql20_tpch_q7" -> ((s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT supp_nation, cust_nation, l_year,
               round(CAST(sum(CAST(volume AS DECIMAL(24,10)))
                     AS DOUBLE), 6) AS revenue
        FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     year(l_shipdate) AS l_year,
                     l_extendedprice * (1 - l_discount) AS volume
              FROM supplier_v
                   JOIN lineitem_v ON s_suppkey = l_suppkey
                   JOIN orders_v   ON o_orderkey = l_orderkey
                   JOIN customer_v ON c_custkey = o_custkey
                   JOIN nation_v n1 ON s_nationkey = n1.n_nationkey
                   JOIN nation_v n2 ON c_nationkey = n2.n_nationkey
              WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year""")
    }),

    // SQL21: TPC-H Q8 shape (market share) — a conditional share of a
    // conditional aggregate: one nation's slice of a region's market,
    // computed as CASE-gated decimal sum ÷ total decimal sum in ONE
    // grouped pass over an 8-table snowflake (nation again twice:
    // the customer side walks nation→region to scope the market, the
    // supplier side names the contender). The share division is
    // double÷double of decimal-exact sums — bit-identical IEEE on
    // both engines.
    "sql21_tpch_q8" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      Tables.region(s, d).createOrReplaceTempView("region_v")
      s.sql("""
        SELECT o_year,
               round(CAST(sum(CASE WHEN nation = 'NATION_3'
                          THEN CAST(volume AS DECIMAL(24,10))
                          ELSE CAST(0 AS DECIMAL(24,10)) END) AS DOUBLE) /
                     CAST(sum(CAST(volume AS DECIMAL(24,10)))
                          AS DOUBLE), 6) AS mkt_share
        FROM (SELECT year(o_orderdate) AS o_year,
                     l_extendedprice * (1 - l_discount) AS volume,
                     n2.n_name AS nation
              FROM part_v
                   JOIN lineitem_v ON p_partkey = l_partkey
                   JOIN supplier_v ON s_suppkey = l_suppkey
                   JOIN orders_v   ON l_orderkey = o_orderkey
                   JOIN customer_v ON o_custkey = c_custkey
                   JOIN nation_v n1 ON c_nationkey = n1.n_nationkey
                   JOIN region_v   ON n1.n_regionkey = r_regionkey
                   JOIN nation_v n2 ON s_nationkey = n2.n_nationkey
              WHERE r_name = 'ASIA' AND p_type = 'PROMO')
        GROUP BY o_year
        ORDER BY o_year""")
    }),

    // SQL22: TPC-H Q6 (forecast revenue change) — the suite's pure
    // scan-predicate-aggregate query, run near-verbatim (all its
    // columns exist here): three conjunctive predicates that must ALL
    // reach the parquet reader as pushed filters + one decimal sum,
    // no join, no shuffle beyond the final 1-row merge. With SQL22
    // the engine covers every TPC-H query expressible without the
    // partsupp table or the shipmode/commitdate columns the testdata
    // omits: Q1,Q3,Q4*,Q5,Q6,Q7,Q8,Q10,Q13,Q14,Q17*,Q18,Q19,Q21*,Q22*
    // (*adapted where those columns appear). Fully oracle-checked.
    "sql22_tpch_q6" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT round(CAST(sum(CAST(l_extendedprice * l_discount
                     AS DECIMAL(24,10))) AS DOUBLE), 6) AS revenue
        FROM lineitem_v
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN CAST(0.05 AS DOUBLE)
                             AND CAST(0.07 AS DOUBLE)
          AND l_quantity < 24""")
    }),

    // SQL23: TPC-H Q15 — top supplier by a 3-month revenue VIEW: the
    // last TPC-H query the schema expresses without adaptation
    // (SQL24–28 below adapt the partsupp family). The shape SQL1–22
    // don't cover: the SAME derived aggregate consumed TWICE in one
    // statement — once as the join input, once inside the scalar MAX
    // subquery that selects the winner. The argmax equality runs on
    // the EXACT decimal sums (never the rounded double render), so
    // ties and near-ties are bit-deterministic on both engines; the
    // double appears only in the output projection. Plan shape: the
    // scalar max executes once (subquery node, plan-asserted), the
    // revenue aggregate is one keyed hash agg over the pushed 3-month
    // scan, and supplier joins it keyed — no per-row re-aggregation.
    // s_address/s_phone (absent from testdata) → s_nationkey/s_acctbal.
    "sql23_tpch_q15" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      s.sql("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(24,10))) AS total_revenue
          FROM lineitem_v
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
               round(CAST(total_revenue AS DOUBLE), 6) AS total_revenue
        FROM supplier_v JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey""")
    }),

    // SQL24: TPC-H Q9 shape (product type profit), adapted — the
    // testdata has no partsupp, so supply cost is the deterministic
    // per-part proxy p_retailprice/10 (the SHAPE is what matters: a
    // 5-table snowflake whose measure combines columns of THREE fact/
    // dim tables, grouped by supplier nation × order year). Per-row
    // profit is one fixed IEEE chain (double mul/sub, bit-identical
    // on both engines), then decimal-cast before the sum so the
    // aggregate is order-independent and exact; one double render at
    // the end (the sql20/21 discipline). The p_name LIKE filter
    // prunes parts BEFORE the fact join (broadcast dim filter).
    // Ref workload shape: scripts/07_backtest.py P&L attribution;
    // surface-parity extension (SURVEY §2.4 SQL family).
    "sql24_tpch_q9" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT nation, o_year,
               round(CAST(sum(CAST(amount AS DECIMAL(24,10)))
                     AS DOUBLE), 6) AS sum_profit
        FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
                     l_extendedprice * (1 - l_discount)
                       - (p_retailprice / 10) * l_quantity AS amount
              FROM part_v
                   JOIN lineitem_v ON p_partkey = l_partkey
                   JOIN supplier_v ON s_suppkey = l_suppkey
                   JOIN orders_v   ON o_orderkey = l_orderkey
                   JOIN nation_v   ON s_nationkey = n_nationkey
              WHERE p_name LIKE '%widget%')
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC""")
    }),

    // SQL25: TPC-H Q11 shape (important stock), adapted over the
    // lineitem value ledger (no partsupp): per-part revenue share
    // with a HAVING clause compared against a GLOBAL scalar subquery
    // — the one TPC-H decorrelation shape SQL1–24 didn't cover (the
    // scalar executes once and broadcasts into the post-agg filter,
    // never per group). The comparison runs on EXACT decimal sums
    // ×100 vs the exact total (integer scaling, the sql23 argmax
    // discipline: no rounded double ever gates a row), doubles only
    // in the output projection.
    "sql25_tpch_q11" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT l_partkey AS ps_partkey,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(24,10))) AS DOUBLE), 6) AS part_value
        FROM lineitem_v
             JOIN supplier_v ON l_suppkey = s_suppkey
             JOIN nation_v   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_1'
        GROUP BY l_partkey
        HAVING sum(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(24,10))) * 100 >
               (SELECT sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(24,10)))
                FROM lineitem_v
                     JOIN supplier_v ON l_suppkey = s_suppkey
                     JOIN nation_v   ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_1')
        ORDER BY part_value DESC, ps_partkey""")
    }),

    // SQL26: TPC-H Q16 shape (parts/supplier relationship), adapted —
    // the observed supplier×part pairs come from lineitem (no
    // partsupp), and the excluded-supplier set ("complaints") is the
    // negative-balance suppliers. The NEW shape is the NOT IN
    // subquery: Catalyst must plan it as a NULL-AWARE anti join
    // (BroadcastNestedLoopJoin degenerates only when the subquery can
    // produce nulls — s_suppkey can't, so it stays a broadcast
    // null-aware anti). count(DISTINCT) after dedup → integers only.
    "sql26_tpch_q16" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier_v
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
    }),

    // SQL27: TPC-H Q20 shape (potential part promotion), adapted —
    // the NESTED semi-join chain: an IN whose subquery itself
    // contains an IN (suppliers who shipped heavy volume of
    // small-named parts in 1996), each level decorrelating to a keyed
    // left-semi join rather than a per-row rescan. The volume
    // threshold compares a sum of integer-valued doubles (exact at
    // any summation order below 2^53) — no float boundary risk.
    "sql27_tpch_q20" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT s_name, s_nationkey
        FROM supplier_v JOIN nation_v ON s_nationkey = n_nationkey
        WHERE s_suppkey IN
              (SELECT l_suppkey FROM lineitem_v
               WHERE l_partkey IN (SELECT p_partkey FROM part_v
                                   WHERE p_name LIKE 'small%')
                 AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
               GROUP BY l_suppkey, l_partkey
               HAVING sum(l_quantity) > 50)
        ORDER BY s_name, s_nationkey""")
    }),

    // SQL28: TPC-H Q2 shape (minimum cost supplier), adapted — the
    // per-(part,supplier) offer ledger derives from lineitem (unit
    // price = min extendedprice/quantity observed; no partsupp), and
    // the Q2 signature shape is the CORRELATED scalar subquery whose
    // result immediately REJOINS the same derived table: cost =
    // (SELECT min(cost) ... WHERE same part). Catalyst decorrelates
    // to one keyed min-agg + equi-join — a naive engine recomputes
    // the min per row. The min folds over doubles (no summation), so
    // the equality compares bit-identical values on both engines.
    "sql28_tpch_q2" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""
        WITH offers AS (
          SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                 min(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem_v
          GROUP BY l_partkey, l_suppkey)
        SELECT s_acctbal, s_name, n_name, p_partkey, p_type, unit_cost
        FROM offers o
             JOIN part_v     ON p_partkey = o.partkey
             JOIN supplier_v ON s_suppkey = o.suppkey
             JOIN nation_v   ON s_nationkey = n_nationkey
        WHERE p_size = 16
          AND o.unit_cost = (SELECT min(o2.unit_cost) FROM offers o2
                             WHERE o2.partkey = o.partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100""")
    }),

    // SQL29: TPC-H Q12 shape (shipping modes and order priority),
    // adapted — lineitem carries no l_shipmode/l_commitdate/
    // l_receiptdate, so the "mode" becomes a lateness class derived
    // from the ship lag (datediff(shipdate, orderdate) > 60 days ⇒
    // SLOW — both engines count midnight-aligned day boundaries, an
    // exact integer) and "late delivery" simply restricts to the
    // 1996 ship-year window. The Q12 signature shape survives
    // intact: one orders↔lineitem equi join where the AGGREGATE
    // splits each group into priority classes via CASE — the
    // conditional-count idiom (counts, not sums: DuckDB widens
    // integer SUMs to HUGEINT, the a57/f12/w27 lint class, while
    // count() is BIGINT on both engines). Integers end to end.
    "sql29_tpch_q12" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT CASE WHEN datediff(l_shipdate, o_orderdate) > 60
                    THEN 'SLOW' ELSE 'FAST' END AS ship_class,
               count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS high_line_count,
               count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS low_line_count
        FROM orders_v JOIN lineitem_v ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1
        ORDER BY ship_class""")
    }),

    // SQL30: TPC-H Q4 shape (order priority checking), adapted —
    // count orders per priority where SOME lineitem shipped late
    // (the sql29 lateness class: datediff > 60 on midnight-aligned
    // timestamps, since l_commitdate/l_receiptdate don't exist). The
    // Q4 signature shape survives: a CORRELATED EXISTS whose inner
    // predicate references BOTH sides (l_orderkey equality + the
    // datediff against the outer o_orderdate) — Catalyst must
    // decorrelate to ONE left-semi hash join with the extra
    // condition in the join predicate, never a per-row subquery
    // (plan-asserted). Counts only — integers end to end.
    "sql30_tpch_q4" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders_v o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem_v l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND datediff(l.l_shipdate, o.o_orderdate) > 60)
        GROUP BY 1
        ORDER BY o_orderpriority""")
    }),

    // SQL31: TPC-H Q17 shape (small-quantity-order revenue), adapted
    // to the testdata's part table (brand filter only — no
    // container column): average yearly revenue lost if small orders
    // (quantity below 20% of the part's average) stopped shipping.
    // The signature is the CORRELATED scalar AVG that rejoins its
    // own fact table — Catalyst must decorrelate to ONE
    // partkey-keyed average + equi-join (plan-asserted, the sql28
    // class). Float discipline: the threshold is one IEEE multiply
    // on a pinned-avg render (identical doubles → identical <
    // comparisons); the revenue sum is decimal-pinned; ÷7 exact.
    "sql31_tpch_q17" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.part(s, d).createOrReplaceTempView("part_v")
      s.sql("""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(24,10)))
                    AS DOUBLE) / 7 AS avg_yearly,
               count(*) AS n_small
        FROM lineitem_v l JOIN part_v p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#13'
          AND l.l_quantity <
            (SELECT CAST(0.2 AS DOUBLE) *
                    (CAST(sum(CAST(l2.l_quantity AS DECIMAL(24,10)))
                          AS DOUBLE) / count(*))
             FROM lineitem_v l2
             WHERE l2.l_partkey = p.p_partkey)""")
    }),

    // U4: INTERSECT — distinct (user, day) pairs where a click AND a
    // purchase both happened: the set-semantics operator (Catalyst
    // plans it as a distinct + left-semi hash join — keyed shuffle,
    // no all-pairs anywhere).
    "u4_intersect" -> ((s, d) =>
      eventDays(s, d, "click").intersect(eventDays(s, d, "purchase"))
        .orderBy("user_id", "day")),

    // U5: EXCEPT — distinct (user, day) click pairs with NO purchase
    // that day (the complement of U4; plans as distinct + anti join).
    "u5_except" -> ((s, d) =>
      eventDays(s, d, "click").except(eventDays(s, d, "purchase"))
        .orderBy("user_id", "day")),

    // U6/U7: the BAG-semantics set ops — EXCEPT ALL keeps the
    // multiplicity difference (a user with 3 click-days and 1
    // purchase-day on the same date keeps 2 rows), INTERSECT ALL the
    // minimum multiplicity. Catalyst plans both as a count-aggregated
    // join (no distinct collapse) — one keyed shuffle, and the
    // per-key multiplicity arithmetic is exactly what distinguishes
    // them from U4/U5's set forms.
    "u6_except_all" -> ((s, d) =>
      Tables.events(s, d).filter(col("event_type") === "click")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .exceptAll(
          Tables.events(s, d).filter(col("event_type") === "purchase")
            .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
        .orderBy("user_id", "day")),

    "u7_intersect_all" -> ((s, d) =>
      Tables.events(s, d).filter(col("event_type") === "click")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .intersectAll(
          Tables.events(s, d).filter(col("event_type") === "purchase")
            .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
        .orderBy("user_id", "day")),

    // A21: conversion funnel — how deep each user gets through
    // signup → view → click → purchase, where a stage only counts if
    // its FIRST occurrence is strictly after the previous stage's
    // first occurrence; reported as users per deepest stage. ONE
    // conditional-min hash agg per user (map-side partials) + a tiny
    // agg by stage — the event-analytics staple, entirely relational.
    "a21_funnel" -> ((s, d) => {
      def firstTs(t: String) =
        min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(firstTs("signup"), firstTs("view"), firstTs("click"),
          firstTs("purchase"))
        .withColumn("stage",
          when(col("t_signup").isNull, 0)
            .when(col("t_view").isNull || col("t_view") <= col("t_signup"), 1)
            .when(col("t_click").isNull || col("t_click") <= col("t_view"), 2)
            .when(col("t_purchase").isNull ||
              col("t_purchase") <= col("t_click"), 3)
            .otherwise(4))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    }),

    // A37: funnel stage latency — how LONG each conversion step takes
    // (A21 reports how deep users get; this reports the p50/p90 wait
    // between consecutive first-occurrences, the product-analytics
    // follow-up question). Per user one conditional-min hash agg (the
    // a21 shape), each transition counted independently when both
    // stages exist in order; durations are exact-µs differences
    // scaled to seconds (identical division on both engines), and the
    // exact percentiles ride the a17 parity + r6 contract.
    "a37_funnel_latency" -> ((s, d) => {
      def firstTs(t: String) =
        min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
      val f = Tables.events(s, d)
        .groupBy("user_id")
        .agg(firstTs("signup"), firstTs("view"), firstTs("click"),
          firstTs("purchase"))
      def dur(a: String, b: String) =
        when(col(s"t_$b") > col(s"t_$a"),
          (unix_micros(col(s"t_$b")) - unix_micros(col(s"t_$a")))
            .cast("double") / 1e6)
      f.select(explode(array(
          struct(lit("1_signup_view").as("transition"),
            dur("signup", "view").as("dur_sec")),
          struct(lit("2_view_click").as("transition"),
            dur("view", "click").as("dur_sec")),
          struct(lit("3_click_purchase").as("transition"),
            dur("click", "purchase").as("dur_sec")))).as("x"))
        .select(col("x.transition").as("transition"),
          col("x.dur_sec").as("dur_sec"))
        .filter(col("dur_sec").isNotNull)
        .groupBy("transition")
        .agg(count(lit(1)).as("n_users"),
          r6(expr("percentile(dur_sec, 0.5)")).as("p50_sec"),
          r6(expr("percentile(dur_sec, 0.9)")).as("p90_sec"))
        .orderBy("transition")
    }),

    // A38: Markov transition matrix — P(next event type | current)
    // per user sequence, the sequence-analytics staple (what follows
    // a click?). One per-user lag window (deterministic (ts, event_id)
    // order) + one hash agg; row-normalized probabilities are exact
    // long/long divisions, row totals ride a window over the ≤|types|²
    // matrix. Fully oracle-checked.
    "a38_transition_matrix" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      trans
        .withColumn("row_total",
          sum(col("n")).over(Window.partitionBy("prev_type")))
        .select(col("prev_type"), col("next_type"), col("n"),
          (col("n").cast("double") / col("row_total")).as("p"))
        .orderBy("prev_type", "next_type")
    }),

    // A39: Gini coefficient — value-concentration inequality across
    // users, per event type (the "do a few users drive everything"
    // screen): G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over users sorted by
    // their value sum. Float discipline: user sums stay DECIMAL and
    // the rank-weighted sum i·xᵢ accumulates in DECIMAL too — exact,
    // order-insensitive — so G is three exact integers/decimals
    // through one division chain, identical on both engines (raw
    // doubles). The rank window runs per type over USER AGGREGATES
    // (O(users) rows, already reduced); at a scale where one type's
    // users outgrow a partition, the a33 two-level rank decomposition
    // applies unchanged.
    "a39_gini" -> ((s, d) => {
      val per = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("value").cast("decimal(24,10)")).as("x"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("x"), col("user_id"))
      per.withColumn("i", row_number().over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("sx"),
          sum(col("x") * col("i")).as("sxi"))
        .select(col("event_type"), col("n_users"),
          ((lit(2.0) * col("sxi").cast("double")) /
            (col("n_users") * col("sx").cast("double")) -
            (col("n_users") + 1).cast("double") / col("n_users"))
            .as("gini"))
        .orderBy("event_type")
    }),

    // F1: string functions. Ref: SURVEY §2.8 string family.
    "f1_string_funcs" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 8).as("name8"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_replace(col("p_type"), " ", "_").as("type_u"),
          concat_ws("|", col("p_brand"), col("p_type")).as("bt"))
        .orderBy("p_partkey")),

    // F2: date/time functions. Ref: SURVEY §2.8 date family.
    "f2_datetime_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("yr"),
          month(col("o_orderdate")).cast("int").as("mo"),
          dayofmonth(col("o_orderdate")).cast("int").as("dom"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus30"))
        .orderBy("o_orderkey")),

    // F3: math functions over the revenue expression.
    // Ref: scripts/07_backtest.py:302,348-361.
    "f3_math_funcs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          r6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
          r6(abs(col("l_discount") - lit(0.05))).as("abs_d"),
          r6(sqrt(col("l_extendedprice"))).as("sqrt_p"),
          r6(pow(lit(1.0) + col("l_tax"), lit(12.0))).as("pow_t"),
          floor(col("l_quantity") / 10).cast("long").as("qbucket"))
        .orderBy("l_orderkey", "l_linenumber")),

    // F4: array/struct access over the embedding column.
    "f4_array_access" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          r6(element_at(col("embedding"), 1).cast("double")).as("first_dim"),
          r6(aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x.cast("double"))).as("sum_all"))
        .orderBy("vec_id")),

    // F5: JSON extraction from the props payload.
    // Ref: consumer/consumer.py:9 (json deserialize).
    // Schema'd from_json beats path-probing get_json_object (~0.85 s
    // vs ~1.0 s idle at sf0.1, both a single parse per row): the
    // struct parse is schema-driven and extends to N keys at one
    // parse, where N get_json_object calls would re-parse N times.
    "f5_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          from_json(col("props"), "k INT", Map.empty[String, String])
            .getField("k").as("k"))
        .orderBy("event_id")),

    // F14: the Spark-4 VARIANT surface — parse-once, navigate-lazily
    // semi-structured data (the open-format answer to schema'd
    // from_json when the schema ISN'T known up front): parse_json →
    // binary variant, variant_get with a typed path for extraction,
    // a missing-path probe (NULL, not error), and try_parse_json as
    // the dead-letter gate (every 37th row gets a truncated payload
    // planted — the s23 pattern: the ORACLE classifies by the ground-
    // truth plant, the engine by the parser, so the hash match proves
    // the variant parser's corrupt verdict identifies exactly the
    // planted rows). At scale variant decouples ingest schema from
    // query schema — shredded storage keeps pushdown. Fully
    // oracle-checked (extraction ≡ DuckDB json_extract).
    "f14_variant" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("payload",
          when(col("event_id") % 37 === 0, substring(col("props"), 1, 3))
            .otherwise(col("props")))
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k_int"),
          expr("variant_get(parse_json(props), '$.missing', 'int')")
            .as("k_missing"),
          expr("try_parse_json(payload) IS NULL").as("corrupt"))
        .orderBy("event_id")),

    // F15: calendar functions — the scheduling surface F2's
    // extract/trunc/plain-interval arithmetic stops short of:
    // quarter and ISO-week bucketing, weekday classification
    // (Sunday=1 convention, the weekend flag), month-end alignment
    // (last_day), END-OF-MONTH-CLAMPED month shifts (add_months:
    // Dec 31 + 2 months = Feb 29, the clamp a naive day-interval
    // add gets wrong), and the day-count anchor every retention
    // query needs. Every output is an exact integer/date/boolean —
    // nothing to pin; the hash proves BOTH engines implement the
    // same ISO-week and month-clamp conventions, which is the whole
    // risk in calendar code. Stateless projection, no shuffle.
    "f15_calendar_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          quarter(col("o_orderdate")).cast("int").as("qtr"),
          weekofyear(col("o_orderdate")).cast("int").as("iso_week"),
          dayofweek(col("o_orderdate")).cast("int").as("dow"),
          dayofweek(col("o_orderdate")).isin(1, 7).as("is_weekend"),
          last_day(col("o_orderdate")).as("month_end"),
          add_months(col("o_orderdate").cast("date"), 2).as("plus2m"),
          datediff(col("o_orderdate"), lit("2024-01-01").cast("date"))
            .cast("long").as("days_since"))
        .orderBy("o_orderkey")),

    // F8: array higher-order functions — filter / exists / zip_with /
    // aggregate / array_sort, the lambda surface F4's element access
    // stops short of. These run INTERPRETED (no codegen) — fine for a
    // scalar-surface demo, and exactly why the hot ANN paths use the
    // codegen DotProduct kernel instead (the suite's documented trade).
    "f8_array_hofs" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(filter(col("embedding"), x => x > lit(0.0f)))
            .cast("long").as("n_pos"),
          exists(col("embedding"), x => x > lit(0.3f)).as("has_big"),
          r6(element_at(array_sort(col("embedding")), -1).cast("double"))
            .as("max_dim"),
          r6(aggregate(
            zip_with(col("embedding"), reverse(col("embedding")),
              (a, b) => a.cast("double") * b.cast("double")),
            lit(0.0d), (acc, x) => acc + x)).as("rev_dot"))
        .orderBy("vec_id")),

    // F9: bitwise function family — and/or/xor, shifts, popcount over
    // the integer ids; the bit-manipulation surface the engine's own
    // hash/banding kernels (SimHash, pHash, PQ) use internally,
    // exposed as queryable scalars. Pure codegen projections, exact
    // integer semantics on both engines (ids are small, no overflow
    // near the ANSI fault line).
    // F16: the Spark 4 bitmap-aggregate surface — EXACT distinct
    // counting via roaring-style bucket bitmaps, the deterministic
    // twin of the A16/A32 HLL family (same rollup shapes, zero
    // error): per (type, bucket) a bitmap_construct_agg of bit
    // positions, counts summed across buckets; a second leg proves
    // the MERGE algebra (bitmap_or_agg of per-day bitmaps ≡ the
    // whole-period count — the property that makes persisted bitmap
    // rollups safe, here exact instead of a32's 5% band). The oracle
    // is plain COUNT(DISTINCT ...) — the bitmap machinery must land
    // on the exact answer, so the hash check certifies the whole
    // surface. Scale: bitmaps partition by bucket_number (2^15 ids
    // per bucket), so the agg state is bounded per group and the
    // shuffle carries one ≤4 KB binary per (group, bucket) — the
    // standard exact-distinct design at 100 TB.
    "f16_bitmap_funcs" -> ((s, d) => {
      val perBucket = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
      val direct = perBucket
        .groupBy(col("event_type"))
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      val perDay = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
      val merged = perDay
        .groupBy(col("event_type"), col("bkt"))
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .groupBy(col("event_type"))
        .agg(sum(expr("bitmap_count(bm)")).as("n_users_merged"))
      direct.join(merged, Seq("event_type"))
        .select(col("event_type"), col("n_users"), col("n_users_merged"),
          (col("n_users") === col("n_users_merged")).as("merge_exact"))
        .orderBy("event_type")
    }),

    "f9_bitwise_funcs" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          expr("event_id & 255").as("band"),
          expr("event_id | 4096").as("bor"),
          expr("event_id ^ user_id").as("bxor"),
          shiftleft(col("user_id"), 3).as("shl"),
          shiftright(col("event_id"), 2).as("shr"),
          bit_count(col("event_id")).cast("int").as("popcnt"))
        .orderBy("event_id")),

    // F10: URL parsing family — the web-corpus curation surface
    // (domain-level quality filters, per-host caps, UTM stripping all
    // key on these pieces; the reference dedups articles BY url —
    // scripts/02_fetch_news.py:117-120 — and any scaled version of
    // that pipeline groups by host). The URL is derived
    // deterministically from (source, doc_id) so both engines parse
    // the same strings; Spark's side is the native parse_url codegen
    // expression, the oracle re-derives the pieces with regexes —
    // results compare, not syntax. Fully oracle-checked.
    "f10_url_funcs" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/articles/"), col("doc_id"),
          lit("?ref=feed&page="), col("doc_id") % 10))
        .select(col("doc_id"), col("url"),
          expr("parse_url(url, 'PROTOCOL')").as("proto"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("qstring"),
          expr("parse_url(url, 'QUERY', 'page')").as("page"))
        .orderBy("doc_id")),

    // F11: the try_* error-safe function family — Spark 4 runs ANSI
    // mode by default (overflow/bad-cast/array-out-of-bounds THROW,
    // killing the whole 100 TB job on one poisoned row), and try_* is
    // the documented per-expression escape hatch: NULL instead of
    // abort, without turning ANSI off globally. Planted hazards per
    // row: divide-by-zero every 5th user, a dirty numeric column
    // whose every 997th row is non-numeric, a parseable cast (the
    // JSON k field), an out-of-bounds array index beyond the
    // 2-element split, and a bigint overflow planted every 997th
    // event. The failing plants are SPARSE deliberately: try_*'s
    // miss path is a caught JVM exception per poisoned row, so a
    // dense plant times the exception machinery, not the operator
    // (measured 6.6 s dense vs ~0.5 s sparse at sf0.1) — and real
    // pipelines poison rarely; the hit path is plain codegen.
    // Oracle re-derives each NULL from the ground-truth plant
    // (NULLIF / TRY_CAST / CASE), so the check proves the try_*
    // verdicts identify exactly the hazardous rows. Fully
    // oracle-checked.
    "f11_try_funcs" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          // raw double: elementwise IEEE division is bit-identical
          // across engines — no rounding grid needed (verify-skill
          // discipline)
          expr("try_divide(value, cast(user_id % 5 as double))")
            .as("safe_div"),
          // a dirty numeric column: parses everywhere except the
          // sparse planted non-numeric rows (same rationale as ovf —
          // try_cast's miss path is a caught exception per row)
          expr("""try_cast(CASE WHEN event_id % 997 = 0 THEN event_type
                       ELSE CAST(event_id AS STRING) END AS INT)""")
            .as("bad_cast"),
          expr("try_cast(get_json_object(props, '$.k') AS INT)")
            .as("json_k"),
          expr("try_element_at(split(event_type, 'i'), 5)").as("oob"),
          expr("""try_add(9223372036854775807L,
                  CASE WHEN event_id % 997 = 0 THEN event_id
                       ELSE 0L END)""").as("ovf"))
        .orderBy("event_id")),

    // F12: collation-aware comparison (Spark 4's collation engine) —
    // grouping/equality under UTF8_LCASE treats 'SRC1'/'src1' as one
    // key INSIDE the hash agg and the equality operator, without
    // materializing a lowercased copy of the column (the projection a
    // pre-collation engine needs on every case-insensitive join key
    // at 100 TB). Mixed case planted deterministically (every 3rd doc
    // uppercases its source); the oracle states the same semantics
    // with lower() — results compare, not mechanisms. The collated
    // key is cast back to a plain string for output (parquet writes
    // collated strings with collation metadata; the compare layer
    // wants plain UTF8). Fully oracle-checked.
    "f12_collation" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("src_mixed",
          when(col("doc_id") % 3 === 0, upper(col("source")))
            .otherwise(col("source")))
        .groupBy(expr("collate(src_mixed, 'UTF8_LCASE')").as("src_ci"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .select(lower(col("src_ci")).cast("string").as("source"),
          col("n_docs"), col("total_chars"))
        .orderBy("source")),

    // F13: edit distance — the fuzzy-match scalar behind title/record
    // linkage that token-set Jaccard (D2) misses (transpositions,
    // small typos keep shingles apart but edit distance close):
    // Levenshtein between each doc's 40-char prefix and its
    // predecessor within the same source (the incoming-batch "is this
    // a near-retitle of the previous article?" probe), plus the
    // normalized similarity 1 − d/max(len). Both engines run the
    // classic DP — identical integers, so only the ratio needs r6.
    // Scale: the window is per-source consecutive pairs, O(corpus)
    // rows total with a 40-char cap on the DP (the quadratic kernel
    // is bounded by design, never by data).
    "f13_edit_distance" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          substring(col("text"), 1, 40).as("pfx"))
        .withColumn("prev_id", lag(col("doc_id"), 1).over(w))
        .withColumn("prev_pfx", lag(col("pfx"), 1).over(w))
        .filter(col("prev_id").isNotNull)
        .withColumn("dist", levenshtein(col("pfx"), col("prev_pfx")))
        .withColumn("mx",
          greatest(length(col("pfx")), length(col("prev_pfx"))))
        .select(col("source"), col("doc_id"), col("prev_id"),
          col("dist").cast("long").as("edit_dist"),
          r6(when(col("mx") === 0, lit(1.0d))
            .otherwise(lit(1.0d) -
              col("dist").cast("double") / col("mx"))).as("similarity"))
        .orderBy("source", "doc_id")
    }),

    // S23: dead-letter JSON ingest — the quarantine pattern a 100 TB
    // ingest cannot live without: a batch where some payloads are
    // corrupt must route good rows onward and COUNT the quarantined
    // ones, never abort (FAILFAST) and never silently drop. Every
    // 19th payload is truncated (deterministic plant — always invalid
    // JSON since the closing brace goes); the PERMISSIVE parser's
    // `_corrupt_record` column marks the quarantine — NOT a null
    // struct: Spark's partial-result parsing (enablePartialResults,
    // default on) still recovers `k` from the truncated payload, so
    // null-struct detection silently passes corrupt rows. The oracle
    // classifies by the GROUND TRUTH plant (event_id % 19), so the
    // check proves the parser's quarantine verdict identifies exactly
    // the planted corruption — and sum_k_good proves the surviving
    // rows parse to real values.
    "s23_deadletter_ingest" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("raw", when(col("event_id") % 19 === 0,
          expr("substring(props, 1, length(props) - 2)"))
          .otherwise(col("props")))
        .withColumn("parsed",
          from_json(col("raw"), "k INT, _corrupt_record STRING",
            Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
        .withColumn("bad", col("parsed._corrupt_record").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("n_quarantined"),
          sum(when(!col("bad"), col("parsed.k").cast("long"))
            .otherwise(0L)).as("sum_k_good"))
        .orderBy("event_type")),

    // A9: win/loss grouped conditional counts.
    // Ref: scripts/10_visualize_trades.py:54-59.
    "a9_win_loss" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("value") > 100, 1L).otherwise(0L)).as("wins"),
             sum(when(col("value") <= 100, 1L).otherwise(0L)).as("losses"))
        .orderBy("user_id"))
  )

  /** J7's join tree (shared by the query and the PlanShapeSpec skew
    * assertion): a deliberately skewed key — half the fact rows remap
    * onto hot key 1 — joined to the customer dim under a pinned
    * sort-merge join (a broadcast would sidestep the shuffle whose
    * skew AQE is being asked to repair). */
  private[operators] def aqeSkewJoinPlan(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"))
      // OptimizeSkewedJoin splits a skewed reducer partition at MAP
      // OUTPUT boundaries (PartialReducerPartitionSpec is a map-index
      // range) — a single-file test scan yields ONE mapper, whose one
      // output block is indivisible, so the rule silently no-ops. The
      // repartition gives the join's map stage 16 tasks, mimicking
      // the thousands-of-mappers reality of any production shuffle;
      // at 100 TB it isn't needed and would be dropped.
      .repartition(16)
      .withColumn("jk",
        when(col("user_id") % 10 < 5, lit(1L)).otherwise(col("user_id")))
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    ev.join(dim.hint("merge"), ev("jk") === dim("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"),
        col("value"))
  }

  /** Run `body` with AQE skew-join thresholds scaled DOWN to the test
    * corpus (the defaults — 256 MB skew threshold — would never
    * trigger on megabyte inputs; production keeps them). Every
    * touched key is restored afterwards, so the session the query
    * loop shares sees no config drift. `forceOptimizeSkewedJoin`
    * keeps AQE from vetoing the split when it would add a shuffle —
    * at test scale every byte count is far below the planner's
    * economic cutoffs. */
  private[operators] def withSkewJoinConfs[T](s: SparkSession)(body: => T): T =
    graft.GraftExtensions.withConfs(s,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")(body)

  val oracles: Map[String, String] = Map(
    "j7_aqe_skew_join" ->
      """SELECT event_id, user_id, c_mktsegment, value
         FROM events JOIN customer
           ON (CASE WHEN user_id % 10 < 5 THEN 1
                    ELSE user_id END) = c_custkey
         ORDER BY event_id""",
    "s1_scan_prune" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
         ORDER BY l_orderkey, l_linenumber""",
    "p1_derived_concat" ->
      """SELECT doc_id, trim(concat_ws(' ', coalesce(source,''), coalesce(lang,''))) AS tag
         FROM documents ORDER BY doc_id""",
    "p2_filter_eq" ->
      """SELECT event_id, user_id, value FROM events
         WHERE event_type = 'purchase' ORDER BY event_id""",
    "p3_time_range" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts <  TIMESTAMP '2024-01-20 00:00:00'
         ORDER BY event_id""",
    "p4_date_window" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                               AND TIMESTAMP '1998-12-31 00:00:00'
         ORDER BY o_orderkey""",
    "p5_threshold" ->
      """SELECT event_id, user_id, value FROM events
         WHERE value >= 200.0 AND event_type = 'purchase' ORDER BY event_id""",
    "p7_dedup_keep_last" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
           SELECT user_id, event_type, event_id, ts, value,
                  row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id, event_type""",
    "s13_merge_dedup" ->
      """WITH unioned AS (
           SELECT event_id, ts, user_id, value, 1 AS batch FROM events
           WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
           UNION ALL
           SELECT event_id, ts, user_id, value, 2 AS batch FROM events
           WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
         SELECT event_id, ts, user_id, value, batch FROM (
           SELECT *, row_number() OVER (PARTITION BY event_id
                                        ORDER BY batch DESC) AS rn
           FROM unioned) WHERE rn = 1
         ORDER BY event_id""",
    "j2_equi_join" ->
      """SELECT o_orderkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    // exhaustive hub-cross filter: hubs are a bounded dim, so the
    // ORACLE may be quadratic where the engine's grid path must not
    "j11_spatial_join" ->
      """WITH pts AS (
           SELECT event_id,
                  (('0x' || substring(md5(event_id || ':lat'), 1, 15))
                     ::BIGINT / CAST(1152921504606846976 AS DOUBLE))
                    * 120 - 60 AS lat,
                  (('0x' || substring(md5(event_id || ':lon'), 1, 15))
                     ::BIGINT / CAST(1152921504606846976 AS DOUBLE))
                    * 360 - 180 AS lon
           FROM events),
         hubs AS (
           SELECT n_nationkey AS hub_id,
                  (('0x' || substring(md5(n_nationkey || ':hlat'), 1, 15))
                     ::BIGINT / CAST(1152921504606846976 AS DOUBLE))
                    * 120 - 60 AS hlat,
                  (('0x' || substring(md5(n_nationkey || ':hlon'), 1, 15))
                     ::BIGINT / CAST(1152921504606846976 AS DOUBLE))
                    * 360 - 180 AS hlon
           FROM nation),
         cand AS (
           SELECT p.event_id, h.hub_id,
                  2.0 * 6371.0 * asin(sqrt(
                    sin(radians((h.hlat - p.lat) / 2)) *
                      sin(radians((h.hlat - p.lat) / 2)) +
                    cos(radians(p.lat)) * cos(radians(h.hlat)) *
                      sin(radians((h.hlon - p.lon) / 2)) *
                      sin(radians((h.hlon - p.lon) / 2)))) AS dist_km
           FROM pts p, hubs h)
         SELECT event_id, hub_id, round(dist_km, 6) AS dist_km
         FROM cand WHERE dist_km <= 100.0
         ORDER BY event_id, hub_id""",
    // the monolithic join IS the oracle — equality is the
    // incremental-maintenance invariant
    "j10_incremental_join" ->
      """SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "j3_point_lookup" ->
      """SELECT l_orderkey, l_linenumber, p_name, l_quantity
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_quantity >= 45
         ORDER BY l_orderkey, l_linenumber""",
    "j6_salted_join" ->
      """SELECT event_id, user_id, c_mktsegment, value
         FROM events JOIN customer ON user_id = c_custkey
         ORDER BY event_id""",
    "a30_cohort_retention" ->
      """WITH ev AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day
           FROM events),
         fd AS (
           SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id),
         sz AS (
           SELECT cohort_day, count(*) AS cohort_size
           FROM fd GROUP BY cohort_day)
         SELECT f.cohort_day,
                datediff('day', f.cohort_day, e.day) AS day_offset,
                count(*) AS n_active,
                sz.cohort_size,
                CAST(count(*) AS DOUBLE) / sz.cohort_size AS retention
         FROM ev e
         JOIN fd f USING (user_id)
         JOIN sz ON f.cohort_day = sz.cohort_day
         GROUP BY f.cohort_day, sz.cohort_size,
                  datediff('day', f.cohort_day, e.day)
         ORDER BY 1, 2""",
    "a31_cooccurrence" ->
      """WITH b AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day,
                  event_type
           FROM events),
         tot AS (
           SELECT count(*) AS n_baskets
           FROM (SELECT DISTINCT user_id, day FROM b)),
         pairs AS (
           SELECT a.event_type AS type_a, c.event_type AS type_b,
                  count(*) AS support
           FROM b a JOIN b c
             ON a.user_id = c.user_id AND a.day = c.day
            AND a.event_type < c.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, support,
                CAST(support AS DOUBLE) / n_baskets AS support_share
         FROM pairs, tot
         ORDER BY type_a, type_b""",
    // identical distinct-brand baskets, integer counts, raw-double
    // confidence/lift divisions
    "a75_basket_lift" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         nb AS (SELECT count(DISTINCT okey) AS n_baskets FROM items),
         bc AS (SELECT brand, CAST(count(*) AS BIGINT) AS n1
                FROM items GROUP BY 1),
         pairs AS (
           SELECT a.brand AS brand_a, b.brand AS brand_b,
                  CAST(count(*) AS BIGINT) AS support
           FROM items a JOIN items b
             ON a.okey = b.okey AND a.brand < b.brand
           GROUP BY 1, 2 HAVING count(*) >= 5)
         SELECT brand_a, brand_b, support, x.n1 AS n_a, y.n1 AS n_b,
                CAST(support AS DOUBLE) / x.n1 AS confidence,
                CAST(support * n_baskets AS DOUBLE) /
                  CAST(x.n1 * y.n1 AS DOUBLE) AS lift
         FROM pairs
         JOIN bc x ON pairs.brand_a = x.brand
         JOIN bc y ON pairs.brand_b = y.brand, nb
         ORDER BY brand_a, brand_b""",
    // identical decimal-pinned revenue/total/Σshare²/CR4 sums (the
    // VARCHAR decimal→double bridge), raw share divisions, exact
    // (revenue, suppkey) top-4 rank
    "a76_hhi_concentration" ->
      """WITH rev AS (
           SELECT s_nationkey, s_suppkey,
                  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS rev
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2),
         tot AS (
           SELECT s_nationkey,
                  CAST(CAST(sum(CAST(rev AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS tot,
                  CAST(count(*) AS BIGINT) AS n_suppliers
           FROM rev GROUP BY 1),
         sh AS (
           SELECT r.s_nationkey, r.rev / t.tot AS share, t.tot,
                  t.n_suppliers,
                  row_number() OVER (PARTITION BY r.s_nationkey
                    ORDER BY r.rev DESC, r.s_suppkey) AS rk
           FROM rev r JOIN tot t ON r.s_nationkey = t.s_nationkey),
         agg AS (
           SELECT s_nationkey, max(n_suppliers) AS n_suppliers,
                  max(tot) AS total_rev,
                  CAST(CAST(sum(CAST(share * share AS DECIMAL(30,12)))
                       AS VARCHAR) AS DOUBLE) * 10000 AS hhi,
                  CAST(CAST(sum(CASE WHEN rk <= 4
                         THEN CAST(share AS DECIMAL(30,12))
                         ELSE CAST(0 AS DECIMAL(30,12)) END)
                       AS VARCHAR) AS DOUBLE) AS cr4
           FROM sh GROUP BY 1)
         SELECT n_name, n_suppliers, round(total_rev, 6) AS total_rev,
                round(hhi, 6) AS hhi, round(cr4, 6) AS cr4
         FROM agg JOIN nation ON s_nationkey = n_nationkey
         ORDER BY n_name""",
    "sql8_lateral_topn" ->
      """SELECT p.p_partkey, p.p_brand, t.l_orderkey, t.l_linenumber,
                t.l_extendedprice
         FROM part p,
         LATERAL (SELECT l_orderkey, l_linenumber, l_extendedprice
                  FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey
                  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
                  LIMIT 2) t
         ORDER BY p.p_partkey, t.l_orderkey, t.l_linenumber""",
    // the bitmap machinery must land on the EXACT distinct count, so
    // the oracle is plain COUNT(DISTINCT) on both legs
    "f16_bitmap_funcs" ->
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_merged,
                TRUE AS merge_exact
         FROM events GROUP BY event_type ORDER BY event_type""",
    "f9_bitwise_funcs" ->
      """SELECT event_id,
                event_id & 255 AS band,
                event_id | 4096 AS bor,
                xor(event_id, user_id) AS bxor,
                user_id << 3 AS shl,
                event_id >> 2 AS shr,
                CAST(bit_count(event_id) AS INT) AS popcnt
         FROM events
         ORDER BY event_id""",
    "f11_try_funcs" ->
      """SELECT event_id,
                value / NULLIF(CAST(user_id % 5 AS DOUBLE), 0)
                  AS safe_div,
                TRY_CAST(CASE WHEN event_id % 997 = 0 THEN event_type
                     ELSE CAST(event_id AS VARCHAR) END AS INT)
                  AS bad_cast,
                TRY_CAST(json_extract_string(props, '$.k') AS INT)
                  AS json_k,
                string_split(event_type, 'i')[5] AS oob,
                CASE WHEN event_id % 997 = 0 AND event_id <> 0 THEN NULL
                     ELSE 9223372036854775807 END AS ovf
         FROM events
         ORDER BY event_id""",
    "f13_edit_distance" ->
      """WITH p AS (
           SELECT doc_id, source, substring(text, 1, 40) AS pfx
           FROM documents),
         l AS (
           SELECT source, doc_id, pfx,
                  lag(doc_id) OVER w AS prev_id,
                  lag(pfx) OVER w AS prev_pfx
           FROM p WINDOW w AS (PARTITION BY source ORDER BY doc_id))
         SELECT source, doc_id, prev_id,
                CAST(levenshtein(pfx, prev_pfx) AS BIGINT) AS edit_dist,
                round(CASE WHEN greatest(length(pfx), length(prev_pfx)) = 0
                      THEN 1.0
                      ELSE 1.0 - CAST(levenshtein(pfx, prev_pfx) AS DOUBLE)
                           / greatest(length(pfx), length(prev_pfx)) END,
                      6) AS similarity
         FROM l WHERE prev_id IS NOT NULL ORDER BY source, doc_id""",
    "f12_collation" ->
      """WITH m AS (
           SELECT CASE WHEN doc_id % 3 = 0 THEN upper(source)
                       ELSE source END AS src_mixed,
                  n_chars
           FROM documents)
         SELECT lower(src_mixed) AS source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM m GROUP BY 1 ORDER BY source""",
    "f10_url_funcs" ->
      """WITH u AS (
           SELECT doc_id,
                  'https://' || source || '.example.com/articles/' ||
                  doc_id || '?ref=feed&page=' || (doc_id % 10) AS url
           FROM documents)
         SELECT doc_id, url,
                'https' AS proto,
                regexp_extract(url, 'https://([^/]+)/', 1) AS host,
                regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
                regexp_extract(url, '\?(.*)$', 1) AS qstring,
                regexp_extract(url, '[?&]page=([^&]*)', 1) AS page
         FROM u
         ORDER BY doc_id""",
    // pivot → unpivot round trip must land back on the plain GROUP BY
    "a26_unpivot" ->
      """SELECT user_id, event_type, count(*) AS n
         FROM events GROUP BY 1, 2
         ORDER BY user_id, event_type""",
    "a19_rollup" ->
      """WITH e AS (
           SELECT event_type,
                  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                  value
           FROM events)
         SELECT CASE WHEN GROUPING(event_type) = 1 THEN '(all)'
                     ELSE event_type END AS event_type,
                CASE WHEN GROUPING(day) = 1 THEN '(all)'
                     ELSE day END AS day,
                count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value
         FROM e GROUP BY ROLLUP (event_type, day)
         ORDER BY event_type, day""",
    "a23_cube" ->
      """WITH e AS (
           SELECT event_type,
                  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                  CASE WHEN value > 100 THEN 'high' ELSE 'low' END AS bucket,
                  value
           FROM events)
         SELECT CASE WHEN GROUPING(event_type) = 1 THEN '(all)'
                     ELSE event_type END AS event_type,
                CASE WHEN GROUPING(day) = 1 THEN '(all)'
                     ELSE day END AS day,
                CASE WHEN GROUPING(bucket) = 1 THEN '(all)'
                     ELSE bucket END AS bucket,
                CAST(GROUPING(event_type, day, bucket) AS BIGINT) AS gid,
                count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value
         FROM e GROUP BY CUBE (event_type, day, bucket)
         ORDER BY gid, event_type, day, bucket""",
    // decimal→double via VARCHAR, same rationale as sql1.
    "sql2_tpch_q3" ->
      """SELECT l_orderkey,
                round(CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE), 6)
                  AS revenue,
                o_orderdate, o_orderpriority
         FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
           AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10""",
    "sql3_tpch_q5" ->
      """SELECT n_name,
                round(CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE), 6)
                  AS revenue
         FROM customer
              JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
                           AND c_nationkey = s_nationkey
              JOIN nation   ON s_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",
    "sql4_exists_subquery" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    // CAST(0.5 AS DOUBLE): DuckDB fractional literals are DECIMALs —
    // the threshold must be double math on both engines
    "sql5_scalar_subquery" ->
      """SELECT round(CAST(CAST(sum(CAST(l.l_extendedprice
                          AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / 7.0, 6) AS avg_yearly
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand = 'Brand#1'
           AND l.l_quantity < (SELECT CAST(0.5 AS DOUBLE) * avg(l2.l_quantity)
                               FROM lineitem l2
                               WHERE l2.l_partkey = p.p_partkey)""",
    "sql6_window_topn" ->
      """SELECT c_custkey, o_orderkey, o_totalprice, rnk, prev_price,
                n_orders
         FROM (
           SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
                  lag(o_totalprice) OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS prev_price,
                  count(*) OVER (PARTITION BY o_custkey) AS n_orders
           FROM orders)
         WHERE rnk <= 3
         ORDER BY c_custkey, rnk""",
    // D10's oracle verbatim: same edge slice, same recursive closure —
    // DuckDB recomputes the pairs in SQL, Spark's rCTE runs over the
    // oracle-checked d2-equivalent pair DataFrame
    "sql7_recursive_closure" ->
      """WITH RECURSIVE
           docs AS (
             SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
             FROM documents WHERE doc_id < 100),
           sh AS (
             SELECT doc_id, unnest(list_distinct(list_transform(
                      generate_series(1, len(t) - 2),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
             FROM docs WHERE len(t) >= 3),
           sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
           inter AS (
             SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
           pairs AS (
             SELECT da, db FROM inter
             JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
             WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.02),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION SELECT db AS src, da AS dst FROM pairs),
           reach AS (
             SELECT doc_id AS id, doc_id AS r FROM docs
             UNION
             SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
         SELECT id AS doc_id, min(r) AS canonical_id FROM reach
         GROUP BY id ORDER BY doc_id""",
    // SQL7b: D10b's full-corpus oracle verbatim — exhaustive
    // exact-Jaccard 0.5 graph + recursive min-propagation closure;
    // the rCTE runs over the engine's banded-LSH verified pair table,
    // so the hash match proves banded recall through the SQL surface
    "sql7_closure_corpus" -> Dedup.oracles("d10_cc_corpus"),
    "a20_pivot" ->
      """SELECT user_id,
                count(*) FILTER (event_type = 'click') AS n_click,
                count(*) FILTER (event_type = 'error') AS n_error,
                count(*) FILTER (event_type = 'purchase') AS n_purchase,
                count(*) FILTER (event_type = 'signup') AS n_signup,
                count(*) FILTER (event_type = 'view') AS n_view
         FROM events GROUP BY 1 ORDER BY user_id""",
    "a1_grouped_avg" ->
      """SELECT event_type, date_trunc('day', ts) AS day,
                round(avg(value), 6) AS avg_value, count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""",
    "a5_value_counts" ->
      """SELECT event_type, count(*) AS n FROM events
         GROUP BY 1 ORDER BY event_type""",
    "a6_distinct_count" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users FROM events
         GROUP BY 1 ORDER BY event_type""",
    // the salted two-stage plan must equal the plain aggregate exactly
    "a15_salted_agg" ->
      """SELECT event_type,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY event_type""",
    "a25_robust_mad" ->
      """WITH m AS (
           SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY 1)
         SELECT e.event_type AS event_type, round(max(m.med), 6) AS med,
                round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
         FROM events e JOIN m ON e.event_type = m.event_type
         GROUP BY e.event_type ORDER BY e.event_type""",
    "a27_incremental_rollup" ->
      """SELECT event_type, count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10)))
                  AS VARCHAR) AS DOUBLE), 6) AS total,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10)))
                  AS VARCHAR) AS DOUBLE) / count(*), 6) AS avg_value
         FROM events GROUP BY 1 ORDER BY event_type""",
    "a17_quantiles" ->
      """SELECT event_type,
                round(quantile_cont(value, 0.25), 6) AS p25,
                round(quantile_cont(value, 0.50), 6) AS p50,
                round(quantile_cont(value, 0.75), 6) AS p75,
                round(quantile_cont(value, 0.95), 6) AS p95
         FROM events GROUP BY 1 ORDER BY event_type""",
    "a7_stats_block" ->
      """SELECT event_type,
                round(min(value), 6) AS min_v,
                round(max(value), 6) AS max_v,
                round(avg(value), 6) AS mean_v,
                round(stddev_samp(value), 6) AS std_v,
                round(sum(CASE WHEN value > 100 THEN 1.0 ELSE 0.0 END)
                      / count(*), 6) AS pct_high
         FROM events GROUP BY 1 ORDER BY event_type""",
    "o1_sort_limit" ->
      """SELECT event_id, ts, value FROM events
         ORDER BY value DESC, event_id LIMIT 500""",
    "o2_date_spine" ->
      """SELECT DISTINCT day FROM (
           SELECT date_trunc('day', ts) AS day FROM events
           UNION ALL
           SELECT date_trunc('day', o_orderdate) AS day FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         ORDER BY day""",
    "u1_union_by_name" ->
      """SELECT event_id, user_id, value, NULL::INT AS k FROM events
         WHERE event_type = 'purchase'
         UNION ALL
         SELECT event_id, user_id, NULL::DOUBLE AS value,
                CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events WHERE event_type = 'click'
         ORDER BY event_id""",
    "u3_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
         ORDER BY c_custkey""",
    // decimal→double via VARCHAR: DuckDB's direct decimal→double divides
    // the scaled int128 in floating point (off by an ulp for 17+ digit
    // sums); the string round-trip is correctly rounded, matching
    // Spark's BigDecimal.doubleValue exactly.
    "sql1_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(24,10)))
                     AS VARCHAR) AS DOUBLE) AS sum_qty,
                CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(24,10)))
                     AS VARCHAR) AS DOUBLE) AS sum_base_price,
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(24,10)))
                     AS VARCHAR) AS DOUBLE) AS sum_disc_price,
                round(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(24,10)))
                      AS VARCHAR) AS DOUBLE) / count(*), 6) AS avg_qty,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "u4_intersect" ->
      """SELECT user_id, date_trunc('day', ts) AS day FROM events
         WHERE event_type = 'click'
         INTERSECT
         SELECT user_id, date_trunc('day', ts) AS day FROM events
         WHERE event_type = 'purchase'
         ORDER BY user_id, day""",
    "u5_except" ->
      """SELECT user_id, date_trunc('day', ts) AS day FROM events
         WHERE event_type = 'click'
         EXCEPT
         SELECT user_id, date_trunc('day', ts) AS day FROM events
         WHERE event_type = 'purchase'
         ORDER BY user_id, day""",
    "a38_transition_matrix" ->
      """WITH t AS (
           SELECT user_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev_type
           FROM events),
         c AS (
           SELECT prev_type, event_type AS next_type, count(*) AS n
           FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, next_type, n,
                CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)
                  AS p
         FROM c ORDER BY prev_type, next_type""",
    "a39_gini" ->
      """WITH per AS (
           SELECT event_type, user_id,
                  sum(CAST(value AS DECIMAL(24,10))) AS x
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT event_type, x,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY x, user_id) AS i
           FROM per),
         a AS (
           SELECT event_type, count(*) AS n_users,
                  CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
                  CAST(CAST(sum(x * i) AS VARCHAR) AS DOUBLE) AS sxi
           FROM r GROUP BY 1)
         SELECT event_type, n_users,
                (2 * sxi) / (n_users * sx)
                  - CAST(n_users + 1 AS DOUBLE) / n_users AS gini
         FROM a ORDER BY event_type""",
    "a37_funnel_latency" ->
      """WITH f AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                  min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS t_purchase
           FROM events GROUP BY user_id),
         durs AS (
           SELECT '1_signup_view' AS transition,
                  CASE WHEN t_view > t_signup THEN
                    CAST(epoch_us(t_view) - epoch_us(t_signup) AS DOUBLE)
                      / 1e6 END AS dur_sec
           FROM f
           UNION ALL
           SELECT '2_view_click',
                  CASE WHEN t_click > t_view THEN
                    CAST(epoch_us(t_click) - epoch_us(t_view) AS DOUBLE)
                      / 1e6 END
           FROM f
           UNION ALL
           SELECT '3_click_purchase',
                  CASE WHEN t_purchase > t_click THEN
                    CAST(epoch_us(t_purchase) - epoch_us(t_click) AS DOUBLE)
                      / 1e6 END
           FROM f)
         SELECT transition, count(*) AS n_users,
                round(quantile_cont(dur_sec, 0.5), 6) AS p50_sec,
                round(quantile_cont(dur_sec, 0.9), 6) AS p90_sec
         FROM durs WHERE dur_sec IS NOT NULL
         GROUP BY transition ORDER BY transition""",
    "sql10_grouping_sets" ->
      """WITH e AS (
           SELECT event_type,
                  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                  value
           FROM events)
         SELECT CASE WHEN GROUPING(event_type) = 1 THEN '(all)'
                     ELSE event_type END AS event_type,
                CASE WHEN GROUPING(day) = 1 THEN '(all)'
                     ELSE day END AS day,
                count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value
         FROM e
         GROUP BY GROUPING SETS ((event_type, day), (event_type), (day))
         ORDER BY event_type, day""",
    "p9_day_slice" ->
      """SELECT event_type, count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value
         FROM events
         WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-10 00:00:00'
         GROUP BY 1 ORDER BY event_type""",
    "j9_band_join" ->
      """WITH tiers(tier, lo, hi) AS (
           VALUES ('micro', CAST(0 AS DOUBLE), CAST(100 AS DOUBLE)),
                  ('small', CAST(100 AS DOUBLE), CAST(1000 AS DOUBLE)),
                  ('mid', CAST(1000 AS DOUBLE), CAST(10000 AS DOUBLE)),
                  ('large', CAST(10000 AS DOUBLE), CAST(NULL AS DOUBLE)))
         SELECT tier, count(*) AS n,
                round(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(24,10)))
                      AS VARCHAR) AS DOUBLE), 6) AS total
         FROM orders JOIN tiers
           ON o_totalprice >= lo AND (hi IS NULL OR o_totalprice < hi)
         GROUP BY tier ORDER BY tier""",
    "sql16_pivot" ->
      """SELECT user_id,
                count(*) FILTER (event_type = 'click') AS n_click,
                count(*) FILTER (event_type = 'error') AS n_error,
                count(*) FILTER (event_type = 'purchase') AS n_purchase,
                count(*) FILTER (event_type = 'signup') AS n_signup,
                count(*) FILTER (event_type = 'view') AS n_view
         FROM events GROUP BY 1 ORDER BY user_id""",
    "sql18_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
         FROM supplier
              JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
              JOIN orders o    ON o_orderkey = l1.l_orderkey
              JOIN nation      ON s_nationkey = n_nationkey
         WHERE o.o_orderstatus = 'F'
           AND l1.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                                JOIN orders o3
                                  ON l3.l_orderkey = o3.o_orderkey
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate >
                                 o3.o_orderdate + INTERVAL 45 DAY)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 100""",
    "sql19_tpch_q22" ->
      """SELECT c_nationkey AS cntry, count(*) AS numcust,
                round(CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(24,10)))
                      AS VARCHAR) AS DOUBLE), 6) AS totacctbal
         FROM customer c
         WHERE c_acctbal >
               (SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(24,10)))
                       AS VARCHAR) AS DOUBLE) / count(*)
                FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate >=
                                 TIMESTAMP '2000-06-01 00:00:00')
         GROUP BY c_nationkey
         ORDER BY cntry""",
    "sql20_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
                round(CAST(CAST(sum(CAST(volume AS DECIMAL(24,10)))
                      AS VARCHAR) AS DOUBLE), 6) AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                      year(l_shipdate) AS l_year,
                      l_extendedprice * (1 - l_discount) AS volume
               FROM supplier
                    JOIN lineitem ON s_suppkey = l_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
               WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    "sql21_tpch_q8" ->
      """SELECT o_year,
                round(CAST(CAST(sum(CASE WHEN nation = 'NATION_3'
                           THEN CAST(volume AS DECIMAL(24,10))
                           ELSE CAST(0 AS DECIMAL(24,10)) END)
                      AS VARCHAR) AS DOUBLE) /
                      CAST(CAST(sum(CAST(volume AS DECIMAL(24,10)))
                      AS VARCHAR) AS DOUBLE), 6) AS mkt_share
         FROM (SELECT year(o_orderdate) AS o_year,
                      l_extendedprice * (1 - l_discount) AS volume,
                      n2.n_name AS nation
               FROM part
                    JOIN lineitem ON p_partkey = l_partkey
                    JOIN supplier ON s_suppkey = l_suppkey
                    JOIN orders   ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation n1 ON c_nationkey = n1.n_nationkey
                    JOIN region   ON n1.n_regionkey = r_regionkey
                    JOIN nation n2 ON s_nationkey = n2.n_nationkey
               WHERE r_name = 'ASIA' AND p_type = 'PROMO')
         GROUP BY o_year
         ORDER BY o_year""",
    "sql22_tpch_q6" ->
      """SELECT round(CAST(CAST(sum(CAST(l_extendedprice * l_discount
                      AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE), 6)
                  AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN CAST(0.05 AS DOUBLE)
                              AND CAST(0.07 AS DOUBLE)
           AND l_quantity < 24""",
    // same text modulo the view suffix + the VARCHAR-hop double cast
    // (DuckDB's decimal→double rounds differently from the string
    // path; the argmax itself compares exact decimals on both engines)
    "sql23_tpch_q15" ->
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(24,10))) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
                round(CAST(CAST(total_revenue AS VARCHAR) AS DOUBLE), 6)
                  AS total_revenue
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         ORDER BY s_suppkey""",
    "sql24_tpch_q9" ->
      """SELECT nation, o_year,
                round(CAST(CAST(sum(CAST(amount AS DECIMAL(24,10)))
                      AS VARCHAR) AS DOUBLE), 6) AS sum_profit
         FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
                      l_extendedprice * (1 - l_discount)
                        - (p_retailprice / 10) * l_quantity AS amount
               FROM part
                    JOIN lineitem ON p_partkey = l_partkey
                    JOIN supplier ON s_suppkey = l_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN nation   ON s_nationkey = n_nationkey
               WHERE p_name LIKE '%widget%')
         GROUP BY nation, o_year
         ORDER BY nation, o_year DESC""",
    "sql25_tpch_q11" ->
      """SELECT l_partkey AS ps_partkey,
                round(CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE), 6)
                  AS part_value
         FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation   ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_1'
         GROUP BY l_partkey
         HAVING sum(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(24,10))) * 100 >
                (SELECT sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(24,10)))
                 FROM lineitem
                      JOIN supplier ON l_suppkey = s_suppkey
                      JOIN nation   ON s_nationkey = n_nationkey
                 WHERE n_name = 'NATION_1')
         ORDER BY part_value DESC, ps_partkey""",
    "sql26_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#1'
           AND p_type <> 'PROMO'
           AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "sql27_tpch_q20" ->
      """SELECT s_name, s_nationkey
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey IN
               (SELECT l_suppkey FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE 'small%')
                  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                GROUP BY l_suppkey, l_partkey
                HAVING sum(l_quantity) > 50)
         ORDER BY s_name, s_nationkey""",
    "sql28_tpch_q2" ->
      """WITH offers AS (
           SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                  min(l_extendedprice / l_quantity) AS unit_cost
           FROM lineitem
           GROUP BY l_partkey, l_suppkey)
         SELECT s_acctbal, s_name, n_name, p_partkey, p_type, unit_cost
         FROM offers o
              JOIN part     ON p_partkey = o.partkey
              JOIN supplier ON s_suppkey = o.suppkey
              JOIN nation   ON s_nationkey = n_nationkey
         WHERE p_size = 16
           AND o.unit_cost = (SELECT min(o2.unit_cost) FROM offers o2
                              WHERE o2.partkey = o.partkey)
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         LIMIT 100""",
    // day-boundary datediff on midnight-aligned timestamps (exact
    // integer both engines); conditional COUNTs, never integer sums
    "sql29_tpch_q12" ->
      """SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
                     THEN 'SLOW' ELSE 'FAST' END AS ship_class,
                count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 END) AS high_line_count,
                count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                           THEN 1 END) AS low_line_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1
         ORDER BY ship_class""",
    // correlated EXISTS with the cross-side datediff predicate;
    // counts only (BIGINT both engines)
    "sql30_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND datediff('day', o.o_orderdate,
                                      l.l_shipdate) > 60)
         GROUP BY 1
         ORDER BY o_orderpriority""",
    // the correlated scalar AVG decorrelates on both engines; pinned
    // quantity average (VARCHAR round-trip) and pinned revenue sum
    "sql31_tpch_q17" ->
      """SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(24,10)))
                     AS VARCHAR) AS DOUBLE) / 7 AS avg_yearly,
                count(*) AS n_small
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand = 'Brand#13'
           AND l.l_quantity <
             (SELECT CAST(0.2 AS DOUBLE) *
                     (CAST(CAST(sum(CAST(l2.l_quantity AS DECIMAL(24,10)))
                           AS VARCHAR) AS DOUBLE) / count(*))
              FROM lineitem l2
              WHERE l2.l_partkey = p.p_partkey)""",
    "sql14_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey
                AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey)
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "sql15_tpch_q14" ->
      """SELECT round(100.0 * CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(24,10))
                    ELSE CAST(0 AS DECIMAL(24,10)) END) AS VARCHAR)
                    AS DOUBLE) /
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE), 6)
                  AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'""",
    "sql11_tpch_q10" ->
      """SELECT c_custkey, c_name,
                round(CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE), 6) AS revenue,
                c_acctbal, n_name
         FROM customer
              JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN nation   ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",
    "sql12_tpch_q18" ->
      """SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                  AS total_qty
         FROM customer
              JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey
                              HAVING sum(l_quantity) > 300)
         GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 20""",
    "sql13_disjunctive_scan" ->
      """SELECT l_returnflag,
                round(CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE), 6) AS revenue,
                count(*) AS n
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 30)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 5 AND 40)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 10 AND 50)
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",
    "a36_rfm" ->
      """WITH per AS (
           SELECT user_id, max(ts) AS last_ts, count(*) AS frequency,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) AS monetary
           FROM events GROUP BY 1),
         h AS (SELECT max(ts) AS h FROM events),
         r AS (
           SELECT user_id,
                  datediff('day', last_ts, h) AS recency_days,
                  frequency, monetary,
                  ntile(4) OVER (ORDER BY datediff('day', last_ts, h),
                                 user_id) AS r_q,
                  ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_q,
                  ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
           FROM per, h)
         SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
                frequency, round(monetary, 6) AS monetary,
                CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
                CAST(m_q AS BIGINT) AS m_q,
                CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
                  || CAST(m_q AS VARCHAR) AS rfm
         FROM r ORDER BY user_id""",
    "sql9_ddl_insert" ->
      """SELECT event_type, date_trunc('day', ts) AS day,
                count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY event_type, day""",
    "u6_except_all" ->
      """SELECT user_id, date_trunc('day', ts) AS day FROM events
         WHERE event_type = 'click'
         EXCEPT ALL
         SELECT user_id, date_trunc('day', ts) AS day FROM events
         WHERE event_type = 'purchase'
         ORDER BY user_id, day""",
    "u7_intersect_all" ->
      """SELECT user_id, date_trunc('day', ts) AS day FROM events
         WHERE event_type = 'click'
         INTERSECT ALL
         SELECT user_id, date_trunc('day', ts) AS day FROM events
         WHERE event_type = 'purchase'
         ORDER BY user_id, day""",
    "a22_moments" ->
      """WITH c AS (
           SELECT event_type, value,
                  avg(value) OVER (PARTITION BY event_type) AS m
           FROM events)
         SELECT event_type,
                round(avg((value-m)*(value-m)*(value-m))
                      / pow(avg((value-m)*(value-m)), 1.5), 6) AS skew,
                round(avg((value-m)*(value-m)*(value-m)*(value-m))
                      / pow(avg((value-m)*(value-m)), 2) - 3, 6) AS kurt
         FROM c GROUP BY event_type ORDER BY event_type""",
    "a21_funnel" ->
      """WITH f AS (
           SELECT user_id,
                  min(ts) FILTER (event_type = 'signup') AS t_signup,
                  min(ts) FILTER (event_type = 'view') AS t_view,
                  min(ts) FILTER (event_type = 'click') AS t_click,
                  min(ts) FILTER (event_type = 'purchase') AS t_purchase
           FROM events GROUP BY 1),
         s AS (
           SELECT user_id,
                  CASE WHEN t_signup IS NULL THEN 0
                       WHEN t_view IS NULL OR t_view <= t_signup THEN 1
                       WHEN t_click IS NULL OR t_click <= t_view THEN 2
                       WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 3
                       ELSE 4 END AS stage
           FROM f)
         SELECT stage, count(*) AS n_users FROM s
         GROUP BY 1 ORDER BY stage""",
    "f1_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
                substring(p_name, 1, 8) AS name8,
                CAST(length(p_name) AS BIGINT) AS name_len,
                regexp_replace(p_type, ' ', '_', 'g') AS type_u,
                concat_ws('|', p_brand, p_type) AS bt
         FROM part ORDER BY p_partkey""",
    "f2_datetime_funcs" ->
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS INT) AS yr,
                CAST(month(o_orderdate) AS INT) AS mo,
                CAST(day(o_orderdate) AS INT) AS dom,
                date_trunc('month', o_orderdate) AS month_start,
                o_orderdate + INTERVAL 30 DAY AS plus30
         FROM orders ORDER BY o_orderkey""",
    "f3_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
                round(l_extendedprice * (1.0 - l_discount), 6) AS revenue,
                round(abs(l_discount - 0.05), 6) AS abs_d,
                round(sqrt(l_extendedprice), 6) AS sqrt_p,
                round(pow(1.0 + l_tax, 12.0), 6) AS pow_t,
                CAST(floor(l_quantity / 10) AS BIGINT) AS qbucket
         FROM lineitem WHERE l_orderkey < 2000
         ORDER BY l_orderkey, l_linenumber""",
    "f4_array_access" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
                round(CAST(embedding[1] AS DOUBLE), 6) AS first_dim,
                round(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE))), 6) AS sum_all
         FROM embeddings ORDER BY vec_id""",
    "f5_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events ORDER BY event_id""",
    // F15: DuckDB's dayofweek is 0-based Sunday (+1 aligns to Spark's
    // 1=Sunday); DATE + INTERVAL MONTH widens to TIMESTAMP, cast back;
    // both engines clamp month-end shifts and use ISO weeks — the
    // conventions the hash certifies
    "f15_calendar_funcs" ->
      """SELECT o_orderkey,
                CAST(quarter(o_orderdate) AS INT) AS qtr,
                CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
                CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
                dayofweek(o_orderdate) + 1 IN (1, 7) AS is_weekend,
                last_day(CAST(o_orderdate AS DATE)) AS month_end,
                CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
                  AS plus2m,
                CAST(datediff('day', DATE '2024-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT)
                  AS days_since
         FROM orders ORDER BY o_orderkey""",
    // extraction mirrors json_extract; the corrupt column classifies
    // by the GROUND-TRUTH plant (event_id % 37), so equality proves
    // the engine's variant parser flags exactly the planted rows
    "f14_variant" ->
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
                CAST(json_extract_string(props, '$.missing') AS INT)
                  AS k_missing,
                event_id % 37 = 0 AS corrupt
         FROM events ORDER BY event_id""",
    "a9_win_loss" ->
      """SELECT user_id,
                CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
                CAST(sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS losses
         FROM events GROUP BY 1 ORDER BY user_id""",
    "f8_array_hofs" ->
      """SELECT vec_id,
                CAST(len(list_filter(embedding,
                  x -> CAST(x AS DOUBLE) > 0.0)) AS BIGINT) AS n_pos,
                len(list_filter(embedding,
                  x -> CAST(x AS DOUBLE) > CAST(0.3 AS DOUBLE))) > 0
                  AS has_big,
                round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_dim,
                round(list_sum(list_transform(
                  generate_series(1, len(embedding)),
                  i -> CAST(embedding[i] AS DOUBLE)
                       * CAST(embedding[len(embedding) - i + 1] AS DOUBLE))),
                  6) AS rev_dot
         FROM embeddings ORDER BY vec_id""",
    "s23_deadletter_ingest" ->
      """SELECT event_type, count(*) AS n_total,
                CAST(sum(CASE WHEN event_id % 19 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_quarantined,
                CAST(sum(CASE WHEN event_id % 19 <> 0
                  THEN CAST(json_extract_string(props, '$.k') AS INT)
                  ELSE 0 END) AS BIGINT) AS sum_k_good
         FROM events GROUP BY 1 ORDER BY event_type"""
  )
}
