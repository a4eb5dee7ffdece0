package graft.operators

import java.time.LocalDateTime
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import graft.{PlanShape, SparkTestSession}

/** Scale guarantees as plan assertions: the designated 100 TB paths
  * (LSH dedup, banded ANN, lag grid, signal pipeline) must never plan
  * an unbounded nested-loop/cartesian join — only keyed joins and the
  * documented broadcast of tiny dimension tables. The bounded
  * baselines (sim1/d5 crossJoins) are intentionally exempt. Each test
  * reads the query's [[PlanShape]] record; the two tree-order checks
  * (a24, w20) walk the typed plan nodes.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  private def planOf(qs: Map[String, (SparkSession, String) => DataFrame],
      q: String): PlanShape = PlanShape.of(qs(q)(spark, sf))

  /** No all-pairs join: neither a cartesian product nor a nested loop. */
  private def keyed(p: PlanShape): Boolean =
    p.joins("Cartesian").isEmpty && p.joins("BNLJ").isEmpty

  /** A subquery that survived decorrelation: a subquery plan or a
    * scalar-subquery expression. */
  private def perRowSubqueries(p: PlanShape): Int =
    p.count("Subquery") + p.scalarSubqueries

  /** The one-shot scalar subquery: a scalar-subquery expression or a
    * reuse of one. */
  private def oneShot(p: PlanShape): Boolean =
    p.scalarSubqueries > 0 || p.reusedSubqueries > 0

  /** A broadcast hash join, and no cartesian product. */
  private def broadcasts(p: PlanShape): Boolean =
    p.joins("BHJ").nonEmpty && p.joins("Cartesian").isEmpty

  private def joinTypes(p: PlanShape): Seq[String] = p.joins.map(_.joinType)

  /** A timestamp cell as a LocalDateTime: the ts class depends on
    * whether an earlier test already flipped the session's
    * NTZ-inference flag (Tables.events does), so both renderings of
    * the same midnight-aligned instant are accepted. */
  private def ldt(x: Any): LocalDateTime = x match {
    case l: LocalDateTime => l
    case t: java.sql.Timestamp => t.toLocalDateTime
  }

  private def scanOf(p: PlanShape, table: String): PlanShape.Scan =
    p.scans.find(_.table == table).getOrElse(fail(s"no $table scan: $p"))

  test("w54/w55 recursive folds stay partition-parallel per type") {
    // the sequential part of both recursive indicators runs INSIDE a
    // per-event_type fold over the collected calendar-bounded candle
    // array — the plan must shuffle on event_type (the fold's group)
    // and never pass the corpus through a global sort or cartesian
    Seq("w54_heikin_ashi", "w55_parabolic_sar").foreach { q =>
      val p = planOf(Windows.queries, q)
      assert(p.exchanges("hash").exists(_.keys == Seq("event_type")),
        s"$q fold must key on event_type: $p")
      assert(keyed(p), p)
    }
  }

  test("w16 candles reuse one hash exchange for window + aggregate") {
    // the ranking window and the final hash agg both key on
    // (event_type, day): exactly ONE hash-partitioning exchange may
    // appear (plus the presentation sort's range exchange)
    val p = planOf(Windows.queries, "w16_ohlc_candles")
    assert(p.count("Window") >= 1, p)
    assert(p.exchanges("hash").size == 1, s"expected one hash exchange: $p")
  }

  test("ds8 weighted sample plans as TakeOrderedAndProject, no sort") {
    // the A-ES draw is a scored scan into a top-k: per-partition heaps
    // (TakeOrderedAndProject), never a global Sort of the corpus
    val p = planOf(DatasetOps.queries, "ds8_weighted_sample")
    assert(p.count("TakeOrderedAndProject") > 0, p)
  }

  test("txt12 BM25 broadcasts the idf side") {
    // the ≤|q|-row idf/avgdl table must broadcast — the corpus-sized
    // postings never shuffle to meet it
    val p = planOf(TextAnalysis.queries, "txt12_bm25")
    assert(p.joins("BHJ").exists(_.leftKeys == Seq("w")), p)
    assert(p.joins("Cartesian").isEmpty, p)
  }

  test("sql7 plans as genuine in-plan recursion (UnionLoop)") {
    // the rCTE must survive to execution as the recursive operator —
    // not get rewritten away — or the query isn't exercising the
    // recursion machinery at all
    val p = planOf(Relational.queries, "sql7_recursive_closure")
    assert(p.count("UnionLoop") > 0, p)
  }

  test("sql7 corpus closure also plans as in-plan recursion (UnionLoop)") {
    // the full-corpus rCTE must exercise the same recursion machinery
    // as the slice variant — over the materialized corpus_pairs view
    val p = planOf(Relational.queries, "sql7_closure_corpus")
    assert(p.count("UnionLoop") > 0, p)
  }

  test("sql8 lateral top-n decorrelates to a window plan, no nested loop") {
    // the correlated LATERAL + LIMIT must decorrelate into a ranked
    // window + keyed join — a per-outer-row nested loop would be the
    // quadratic failure mode at scale
    val p = planOf(Relational.queries, "sql8_lateral_topn")
    assert(p.count("Window") > 0, p)
    assert(keyed(p), p)
  }

  test("ds9 winsorize broadcasts the percentile bounds") {
    // the |types|-row bounds join must broadcast — the event stream
    // never shuffles to meet its own clamp thresholds
    val p = planOf(DatasetOps.queries, "ds9_winsorize")
    assert(p.joins("BHJ").nonEmpty, p)
    assert(p.exchanges("hash").size <= 1, s"unexpected extra shuffles: $p")
  }

  test("a30 cohort retention broadcasts cohort sizes") {
    val p = planOf(Relational.queries, "a30_cohort_retention")
    assert(broadcasts(p), p)
  }

  test("a33/a35 two-level ECDF: exactly one single-partition window each") {
    // the rank machinery may put ONLY the ≤1024-row bucket-offset
    // cumulative on a single partition; the per-value cumulative must
    // stay partitioned by bucket. Two single-partition windows would
    // mean the decomposition collapsed into a global sort.
    for ((qs, q) <- Seq((Stats.queries, "a33_ks_test"),
        (Stats.queries, "a35_mannwhitney"))) {
      val p = planOf(qs, q)
      // the per-value cumulative partitions by bucket…
      assert(p.windows.exists(_.partitionKeys.headOption.contains("bucket")),
        s"$q: $p")
      // …and NO window orders the full per-value stream unpartitioned
      // (that would be the global-sort collapse); the only permitted
      // unpartitioned window is the ≤1024-row bucket-offset cumulative,
      // which orders by the bucket column, not the value
      assert(!p.windows.exists(w => w.partitionKeys.contains("value") ||
        w.partitionKeys.isEmpty &&
          w.orderKeys.headOption.exists(_.startsWith("value "))),
        s"$q has an unpartitioned value-ordered window: $p")
    }
  }

  test("w18 rolling corr broadcasts the market series") {
    val p = planOf(Windows.queries, "w18_rolling_corr")
    assert(broadcasts(p), p)
  }

  test("a36 RFM broadcasts the horizon, never shuffles users to meet it") {
    val p = planOf(Relational.queries, "a36_rfm")
    assert(p.joins("BNLJ").nonEmpty || p.joins("BHJ").nonEmpty, p)
  }

  test("a75 basket rules: dims broadcast, pair join keyed on orderkey") {
    val p = planOf(Relational.queries, "a75_basket_lift")
    assert(broadcasts(p), p)
  }

  test("a76 HHI: supplier/nation dims broadcast, one lineitem pass") {
    val p = planOf(Relational.queries, "a76_hhi_concentration")
    assert(broadcasts(p), p)
    // one scan of the fact table: revenue aggregates once, every
    // later stage runs on the O(suppliers) frame
    assert(p.scans.count(_.table == "lineitem.parquet") == 1, p)
  }

  test("LSH dedup paths join on bucket keys, never all pairs") {
    for (q <- Seq("d3_minhash_lsh", "d6_lsh_verified")) {
      val p = planOf(Dedup.queries, q)
      assert(keyed(p), s"$q: $p")
    }
  }

  test("embedding pair-graph build joins on (band, bkt), never all pairs") {
    // the materialized D9/D16 edge table: candidate generation must
    // stay a keyed equi-join on the 6 hyperplane-sign buckets
    Similarity.embPairs.invalidate(spark, sf)  // raw plan, not the cache
    val p = PlanShape.of(Similarity.embPairsPlan(spark, sf))
    assert(keyed(p), p)
  }

  test("banded ANN joins on (band, bucket), never all pairs") {
    val p = planOf(Similarity.queries, "sim2_lsh_ann")
    assert(keyed(p), p)
  }

  test("sim3/sim6 probes stay collect-free once the quantizer is warm") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // the 16-centroid coarse quantizer is the ONE sanctioned
    // driver-side collect on the similarity path — bounded (limit 16)
    // and cached per (session, dir). This pins the boundary as the
    // suite evolves: once the caches are warm, CONSTRUCTING the probe
    // DataFrames (including their executed plans) must run ZERO Spark
    // jobs — any new job here means a collect crept into the build
    // path (the a53 eager-head lesson).
    Similarity.queries("sim3_ivf_ann")(spark, sf)
    Similarity.queries("sim6_pq_topk")(spark, sf)
    // benign construction-time jobs exist (parquet footer/schema
    // reads, the sentinel's own AQE stages) — the banned class is the
    // eager driver-side ACTION, whose job stages carry the
    // collect/head/take callsite
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        js.stageInfos.foreach(si => jobs.add(si.name)); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val p3 = planOf(Similarity.queries, "sim3_ivf_ann")
      val p6 = planOf(Similarity.queries, "sim6_pq_topk")
      // the probes inline the quantizer as literals and broadcast the
      // ≤10-row query side: sim3 joins keyed on the list id (no
      // nested loop at all); sim6's documented shape is the ≤10-row
      // BROADCAST query side crossing the candidate scan (the SIM
      // family's bounded baseline) — a non-broadcast cartesian is
      // still banned for both
      assert(keyed(p3), p3)
      assert(p6.joins("Cartesian").isEmpty, p6)
      // the listener bus is async: DRAIN it before reading the
      // recorded jobs (waiting for a sentinel action's event count
      // would race — an earlier benign job's event can satisfy the
      // wait while an illicit collect's event is still queued, and
      // under AQE the sentinel's stages carry generic
      // CompletableFuture callsites that can't be matched by name).
      // listenerBus is private[spark]; tests reach waitUntilEmpty
      // reflectively, the same thing Spark's own test harness calls.
      val busM = spark.sparkContext.getClass.getMethod("listenerBus")
      val bus = busM.invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(30000L))
      val eager = jobs.toArray(Array.empty[String])
        .filter(_.matches("(?s)^(collect|head|first|take\\w*) at .*"))
      assert(eager.isEmpty,
        s"warm sim3/sim6 construction ran eager driver-side action(s): " +
          eager.mkString("; "))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("hamming pair searches join on band buckets, never all pairs") {
    // d8 (simhash) and mm5 (perceptual hash) both promise banding in
    // place of an all-pairs scan — hold them to it
    for ((qs, q) <- Seq(
        (Dedup.queries, "d8_simhash_pairs"),
        (Multimodal.queries, "mm5_phash_pairs"))) {
      val p = planOf(qs, q)
      assert(keyed(p), s"$q: $p")
    }
  }

  test("lag grid: only the 5-row lookback dim crosses the spine") {
    // inspect the raw plan: the memoized `grid` the queries consume is
    // a persisted copy of exactly this subtree, and once it exists the
    // CacheManager substitutes it into ANY structurally-equal plan —
    // hiding the join shapes behind an InMemoryTableScan. Dropping
    // the cache entry makes the builder plan raw again.
    LagGrid.grid.invalidate(spark, sf)
    val p = PlanShape.of(LagGrid.gridPlan(spark, sf))
    // the broadcast cross of the tiny LocalTableScan dimension is the
    // designed shape; what must NOT appear is a cartesian between two
    // fact-table-derived sides
    assert(p.joins("Cartesian").isEmpty, p)
    assert(p.joins("BNLJ").size <= 1, s"unexpected nested loops: $p")
    assert(p.count("LocalTableScan") > 0,
      "lookback dim should be a local (broadcast) relation")
  }

  /** The physical operators of `df`'s executed plan, descending into
    * adaptive plans and query stages. */
  private def nodesOf(df: DataFrame): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case p => p }

  test("lag grid: one scan and one reused exchange feed spine and join") {
    // events are scanned once into hourly sums repartitioned by key;
    // the daily spine (its window output is the leads) and the
    // interval join's hourly side read that one exchange, so the final
    // plan shows one scan, the reuse, one window for all four leads,
    // and a shuffled hash join, not a broadcast of the hourly side.
    // Exchange reuse happens as adaptive execution creates its stages,
    // so the plan is inspected after a run.
    LagGrid.grid.invalidate(spark, sf)
    val df = LagGrid.gridPlan(spark, sf)
    df.collect()
    val p = PlanShape.of(df)
    assert(p.scans.size == 1, p)
    assert(p.reusedExchanges == 1, p)
    // the four leads read one following-rows frame: one window
    // expression, where four lead offsets would plan four
    assert(p.windows.map(_.expressions) == Seq(1), p)
    assert(p.joins("BHJ").isEmpty, p)
    assert(p.joins("SHJ").size == 1, p)
  }

  test("34-metric block over the live fold runs the fold once") {
    // every metric reads one pass over the fold output: one
    // MapPartitions, and no nested-loop or cartesian join of blocks
    val p = PlanShape.of(Backtest.fullMetricsOf(Backtest.run(spark, sf),
      BacktestConfig.Default.initialCash))
    assert(p.count("MapPartitions") == 1, p)
    assert(keyed(p), p)
  }

  test("signal pipeline broadcasts config, fact side stays keyed") {
    val p = planOf(Signals.queries, "p8_signal_pipeline")
    assert(keyed(p), p)
  }

  test("signal pipeline has no range exchange; the p8 queries sort") {
    // the chain and the dashboard re-run consume `pipeline` unordered:
    // its presentation sort (a range-sample job and a range exchange)
    // belongs to the named queries only
    def rangeExchanges(df: DataFrame): Int =
      PlanShape.of(df).exchanges("range").size
    assert(rangeExchanges(Signals.pipeline(spark, sf)) == 0)
    assert(rangeExchanges(
      Signals.pipeline(spark, sf, SignalConfig.Strict)) == 0)
    Seq("p8_signal_pipeline", "p8_signal_strict").foreach { q =>
      assert(rangeExchanges(Signals.queries(q)(spark, sf)) == 1, q)
    }
  }

  test("pipe11 sweep broadcasts the grid; one fact scan feeds the surface") {
    // the 9-row (tau, min_news) grid multiply must be a broadcast of a
    // local relation (the grid_build shape) — at 100 TB the fact table
    // is scanned once for the daily agg and never shuffles to meet the
    // grid; the only nested loop allowed is that broadcast multiply
    val p = planOf(Signals.queries, "pipe11_strategy_sweep")
    assert(p.joins("Cartesian").isEmpty, p)
    assert(p.joins("BNLJ").size <= 1, s"unexpected nested loops: $p")
    assert(p.count("LocalTableScan") > 0,
      "grid should be a local (broadcast) relation")
  }

  test("pipe12 outcomes: keyed join back, no cartesian beside the grid") {
    // the forward-return frame joins the signal frame on
    // (event_type, day_idx) — a keyed join; the only nested loop
    // allowed is pipe11's broadcast grid multiply
    val p = planOf(Signals.queries, "pipe12_sweep_outcomes")
    assert(p.joins("Cartesian").isEmpty, p)
    assert(p.joins("BNLJ").size <= 1, s"unexpected nested loops: $p")
  }

  test("j6 salted join: shuffle join keyed on (key, salt), no broadcast") {
    // the query's whole purpose is spreading a hot key over 16
    // reducers — a broadcast join would bypass the shuffle the salt
    // is redistributing (and be impossible at real skew scale after
    // the ×16 dim replication), so the plan must keep the pinned
    // sort-merge join with the salt in its join key
    val p = planOf(Relational.queries, "j6_salted_join")
    assert(p.joins("BHJ").isEmpty, p)
    // the SortMergeJoin's own key list must carry the salt — merely
    // having a salt column somewhere in the plan doesn't redistribute
    // the hot key
    assert(p.joins("SMJ").map(j => (j.leftKeys, j.rightKeys)) ==
      Seq((Seq("salt", "user_id"), Seq("salt", "c_custkey"))),
      s"salt must appear in the join keys: $p")
  }

  test("j7: AQE detects the hot partition and splits it at runtime") {
    // J6 proves the MANUAL mitigation (deterministic salt); J7 is the
    // engine answer — runtime shuffle stats flag the oversized
    // partition and OptimizeSkewedJoin splits it. Needs enough bytes
    // in the hot partition to clear the (already scaled-down)
    // thresholds, so this test reads sf0.01 (read-only testdata, like
    // every other fixture dir). The final adaptive plan must carry a
    // skew-marked join (only a final plan can) — and the result must
    // still equal the plain remapped join (the oracle's check,
    // re-asserted here in-process).
    val d001 = "/root/testdata/sf0.01"
    val df = Relational.withSkewJoinConfs(spark) {
      val j = Relational.aqeSkewJoinPlan(spark, d001)
      j.collect() // materialize under the skew confs → final AQE plan
      j
    }
    val p = PlanShape.of(df)
    assert(p.joins.exists(_.skew), s"AQE did not mark a skewed join: $p")
  }

  test("s1 parquet scan: filter pushed down, unused columns never read") {
    // at 100 TB the difference between a pushed and a post-scan filter
    // is the whole I/O bill — the predicate must reach the parquet
    // reader, and the scan schema must carry only the 4 referenced
    // columns (wide lineitem columns like l_comment stay unread)
    val s = scanOf(planOf(Relational.queries, "s1_scan_prune"),
      "lineitem.parquet")
    assert(s.pushedFilters.exists(_.startsWith("GreaterThanOrEqual(l_shipdate,")),
      s)
    assert(s.columns.sorted == Seq("l_extendedprice", "l_linenumber",
      "l_orderkey", "l_shipdate"),
      s"scan schema must be pruned to the referenced columns: $s")
  }

  test("partitioned layout: a partition predicate prunes at plan time") {
    // the read-side contract of the S3 partitioned write: filtering on
    // the partition column must become a PartitionFilter (directories
    // never listed), not a post-scan Filter — at 100 TB this is the
    // difference between reading one partition and reading the table
    val out = graft.Fs.scratch("graft_prune")
    graft.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val p = PlanShape.of(spark.read.parquet(out)
      .filter(col("event_type") === "click"))
    // only a partition filter carrying the predicate proves
    // directory-level pruning
    assert(p.scans.exists(_.partitionFilters.contains(
      "(event_type = 'click')")),
      s"partition predicate not pushed to the directory listing: $p")
  }

  test("o1 sort+limit plans as TakeOrderedAndProject, never a full sort") {
    // orderBy().limit(k) must stay a per-partition top-k + driver
    // merge — a global Sort before the limit would shuffle the whole
    // fact table at 100 TB for 500 output rows
    val p = planOf(Relational.queries, "o1_sort_limit")
    assert(p.count("TakeOrderedAndProject") > 0, p)
  }

  test("s15 bucketed layout: agg + agg + join plan with zero shuffle") {
    // the whole point of the bucketed write: the scan's bucket
    // partitioning satisfies both hash aggregates AND the sort-merge
    // join, so no Exchange may appear anywhere in the tree (local
    // Sort nodes are fine — sorting isn't shuffling)
    val p = PlanShape.of(SourceSinks.bucketedJoinPlan(spark, sf))
    assert(p.joins("SMJ").nonEmpty, p)
    assert(p.exchanges.isEmpty && p.reusedExchanges == 0, p)
  }

  test("txt21 lexical diversity: pure projection — zero exchanges") {
    // MATTR's whole scale claim: segment slices, distinct counts and
    // both ratios fold inside one projection over the tokenizer. The
    // final orderBy is a rangepartitioning presentation sort; nothing
    // else may shuffle, and no hashpartitioning exchange may exist.
    val p = planOf(TextAnalysis.queries, "txt21_lexical_diversity")
    assert(p.exchanges("hash").isEmpty, p)
    assert(p.joins.isEmpty, p)
  }

  test("decon1: eval shingles broadcast, corpus side never shuffles to join") {
    // the eval side is tiny by construction (a benchmark suite vs the
    // corpus) — the membership probe must be a broadcast hash join;
    // a sort-merge join here would shuffle every corpus shingle at
    // 100 TB just to probe a set that fits in memory
    val p = planOf(Curation.queries, "decon1_ngram_overlap")
    assert(p.joins("BHJ").nonEmpty, p)
    assert(p.joins("SMJ").isEmpty && p.joins("Cartesian").isEmpty, p)
  }

  test("a19 rollup expands grouping sets in one pass, no union of scans") {
    // the scaladoc's claim: Spark's rollup is a single Expand +
    // aggregate over ONE scan of the fact table — a Union of three
    // re-aggregations would read the table three times at 100 TB
    val p = planOf(Relational.queries, "a19_rollup")
    assert(p.count("Expand") > 0, p)
    assert(p.count("Union") == 0, p)
    assert(p.scans.size == 1,
      s"rollup must scan the fact table exactly once: $p")
  }

  test("a23 cube expands all 8 grouping sets in one pass, one scan") {
    // same contract as a19, over the full 2³ lattice: ONE Expand +
    // hash aggregate, never a Union of 8 re-aggregations
    val p = planOf(Relational.queries, "a23_cube")
    assert(p.count("Expand") > 0, p)
    assert(p.count("Union") == 0, p)
    assert(p.scans.size == 1,
      s"cube must scan the fact table exactly once: $p")
  }

  test("sql2 (TPC-H Q3): broadcast dim joins + top-k, never a full sort") {
    // the SQL surface must reach the same physical decisions the
    // DataFrame API gets: the segment-filtered customer side
    // broadcasts, and ORDER BY ... LIMIT 10 plans as
    // TakeOrderedAndProject rather than a global Sort of the aggregate
    val p = planOf(Relational.queries, "sql2_tpch_q3")
    assert(p.count("TakeOrderedAndProject") > 0, p)
    assert(broadcasts(p), p)
  }

  test("sql11 (TPC-H Q10): top-k over the join, dims broadcast") {
    val p = planOf(Relational.queries, "sql11_tpch_q10")
    assert(p.count("TakeOrderedAndProject") > 0, p)
    assert(broadcasts(p), p)
  }

  test("sql12 (TPC-H Q18): the IN subquery decorrelates to one semi join") {
    // the HAVING-aggregated key set must join as LeftSemi — the fact
    // table is aggregated once, never re-executed per outer row
    val p = planOf(Relational.queries, "sql12_tpch_q18")
    assert(joinTypes(p).contains("LeftSemi"), p)
    assert(p.count("TakeOrderedAndProject") > 0, p)
    assert(p.joins("Cartesian").isEmpty, p)
  }

  test("sql13 (TPC-H Q19): implied per-side filters pushed from the OR") {
    // from the disjunction of conjunctions Catalyst must derive
    // scan-level filters for BOTH sides (p_brand IN (...) on part,
    // the l_quantity envelope on lineitem) so each input prunes
    // before the join — the full OR stays as a residual
    val p = planOf(Relational.queries, "sql13_disjunctive_scan")
    // part scan: the brand/size disjunction reaches PushedFilters
    assert(scanOf(p, "part.parquet").pushedFilters
      .exists(_.contains("EqualTo(p_brand,Brand#1)")),
      s"no implied part-side pushdown: $p")
    // lineitem scan: the quantity envelope disjunction reaches it too
    assert(scanOf(p, "lineitem.parquet").pushedFilters
      .exists(_.contains("GreaterThanOrEqual(l_quantity,")),
      s"no implied lineitem-side pushdown: $p")
    assert(p.joins("BHJ").nonEmpty, p)
  }

  test("w20 MACD: both EWMA passes share one per-type hash exchange") {
    // the px-lag cascade and the macd-lag cascade window over the
    // same (event_type, day-ordered) spec — the second Window sits
    // DIRECTLY on the first (no exchange or sort between them), so
    // the whole plan has exactly two hash exchanges: the daily
    // aggregate's and the windows' shared per-type repartition
    val df = Windows.queries("w20_macd")(spark, sf)
    val p = PlanShape.of(df)
    assert(p.exchanges("hash").size == 2, s"expected two hash exchanges: $p")
    // the upper Window reaches the lower one through projections only
    def skipProjects(n: SparkPlan): SparkPlan = n match {
      case proj: ProjectExec => skipProjects(proj.child)
      case other => other
    }
    val wins = nodesOf(df).collect { case w: WindowExec => w }
    assert(wins.size == 2 &&
      wins.exists(w => skipProjects(w.child).isInstanceOf[WindowExec]),
      s"windows not adjacent: ${nodesOf(df).map(_.nodeName)}")
  }

  test("sql6: three window specs on one key plan a single shuffle") {
    // row_number, lag, and count(*) all partition by o_custkey — the
    // Window operators must share ONE hash exchange, not re-shuffle
    // per spec (the ordered specs collapse into one Window; the
    // unbounded count runs as its own Window over the same
    // partitioning, which satisfies its distribution with no new
    // Exchange)
    val p = planOf(Relational.queries, "sql6_window_topn")
    assert(p.exchanges("hash").size == 1, s"expected 1 hash exchange: $p")
    assert(p.joins("Cartesian").isEmpty, p)
  }

  test("a24: the custom Aggregator plans a map-side partial aggregate") {
    // the scaladoc's scale claim: only the 48-byte Welford state
    // shuffles per group. That is true exactly when Catalyst plans a
    // partial aggregate BELOW the exchange — pin it (an Aggregator
    // that failed to merge would plan a single post-shuffle aggregate
    // over raw rows)
    val df = Stats.queries("a24_welford_corr")(spark, sf)
    assert(PlanShape.of(df).aggregates
      .contains(PlanShape.Aggregate("partial", Seq("welfordcorr"))))
    val partialBelowShuffle = nodesOf(df).exists {
      case e @ ShuffleExchangeExec(HashPartitioning(Seq(k: Attribute), _),
          _, _, _) if k.name == "event_type" =>
        e.exists {
          case a: BaseAggregateExec => a.aggregateExpressions.exists(x =>
            x.mode == Partial && x.aggregateFunction.prettyName
              .startsWith("welfordcorr"))
          case _ => false
        }
      case _ => false
    }
    assert(partialBelowShuffle, "partial aggregate must sit below the shuffle")
  }

  test("sql3 (TPC-H Q5): every dim broadcasts, fact scans once, no cartesian") {
    val p = planOf(Relational.queries, "sql3_tpch_q5")
    assert(p.joins("Cartesian").isEmpty, p)
    assert(p.joins("BHJ").nonEmpty, p)
    assert(p.scans.size == 6,
      s"each of the 6 tables must scan exactly once: $p")
    assert(p.joins("SMJ").isEmpty,
      "at this dim/fact ratio the whole snowflake should broadcast")
  }

  test("sql4: the correlated EXISTS decorrelates to one semi join") {
    // a naive engine evaluates the EXISTS per outer row — |orders|
    // scans of lineitem; Catalyst must plan ONE keyed LeftSemi join
    // and zero per-row subqueries
    val p = planOf(Relational.queries, "sql4_exists_subquery")
    assert(joinTypes(p).contains("LeftSemi"), p)
    assert(perRowSubqueries(p) == 0,
      s"per-row subquery survived decorrelation: $p")
    assert(p.scans.size == 2, s"orders + lineitem must each scan once: $p")
  }

  test("sql18: Q21's EXISTS + NOT EXISTS both decorrelate to keyed joins") {
    // the same fact table is probed by a correlated EXISTS and a
    // correlated NOT EXISTS, each carrying a non-equality predicate
    // (l_suppkey <>) — both must become keyed LeftSemi/LeftAnti joins
    // on l_orderkey, never a per-outer-row rescan of lineitem
    val p = planOf(Relational.queries, "sql18_tpch_q21")
    assert(joinTypes(p).contains("LeftSemi"), p)
    assert(joinTypes(p).contains("LeftAnti"), p)
    assert(perRowSubqueries(p) == 0,
      s"per-row subquery survived decorrelation: $p")
    assert(keyed(p), p)
  }

  test("sql19: Q22's scalar subquery runs once; the anti join is keyed") {
    // the global-mean threshold is an UNCORRELATED scalar subquery —
    // it must execute exactly once (a reusable subquery feeding a
    // literal into the filter), and the lapsed-customer NOT EXISTS
    // must plan as a keyed LeftAnti join against orders
    val p = planOf(Relational.queries, "sql19_tpch_q22")
    assert(joinTypes(p).contains("LeftAnti"), p)
    assert(oneShot(p), s"expected the one-shot scalar subquery node: $p")
    assert(keyed(p), p)
  }

  test("sql20: Q7's nation self-join broadcasts both roles, no nested loop") {
    // the same dimension joins twice under different roles with a
    // disjunctive cross-role predicate — both sides must stay tiny
    // broadcasts against the fact chain, never a cartesian expansion
    val p = planOf(Relational.queries, "sql20_tpch_q7")
    assert(p.joins("BHJ").count(_.rightKeys == Seq("n_nationkey")) >= 2,
      s"both nation roles should broadcast: $p")
    assert(keyed(p), p)
  }

  test("j11: the spatial join is a broadcast cell join, never points x hubs") {
    // the grid path's whole claim: candidates come from the cell
    // equi-join against the broadcast 9-cell hub expansion — an
    // unkeyed plan (cartesian / BNLJ) would be the quadratic failure
    val p = planOf(Relational.queries, "j11_spatial_join")
    assert(p.joins("BHJ").nonEmpty, p)
    assert(keyed(p), p)
  }

  test("w22: attribution runs as one user_id window, no self-join") {
    // the point of the time-RANGE formulation: purchases never join
    // back to clicks — one hash exchange feeds the window operator
    val p = planOf(Windows.queries, "w22_attribution")
    assert(p.count("Window") > 0, p)
    assert(p.joins.isEmpty, s"self-join crept in: $p")
    assert(p.exchanges("hash").size == 1,
      s"expected exactly one hash exchange: $p")
  }

  test("a61: the VaR thresholds broadcast back onto the returns") {
    // per-series thresholds are a group-cardinality row set — the
    // returns never re-shuffle or re-sort to meet them
    val p = planOf(Stats.queries, "a61_var_cvar")
    assert(broadcasts(p), p)
  }

  test("d15: containment stays on the shingle equi-join access path") {
    val p = planOf(TextAnalysis.queries, "d15_containment")
    assert(keyed(p), p)
  }

  test("sql22: Q6's predicates all push to the parquet scan") {
    // the whole query is scan efficiency — a predicate evaluated
    // post-scan instead of inside the reader forfeits row-group
    // pruning on 100 TB of lineitem
    val pushed = scanOf(planOf(Relational.queries, "sql22_tpch_q6"),
      "lineitem.parquet").pushedFilters.filterNot(_.startsWith("IsNotNull"))
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(pushed.exists(_.contains(s"($c,")), s"$c not pushed: $pushed"))
  }

  test("sql23: Q15's scalar max runs once; the revenue join is keyed") {
    // the revenue CTE feeds both the join and the scalar MAX — the
    // max must be a one-shot subquery (never re-aggregated per
    // supplier row), and supplier joins the aggregate keyed
    val p = planOf(Relational.queries, "sql23_tpch_q15")
    assert(oneShot(p), s"expected the one-shot scalar max subquery: $p")
    assert(keyed(p), p)
  }

  test("sim9: the filtered search joins keyed on the label, no cross join") {
    // the whole point of the filter-equality form: candidates arrive
    // through a hash join on (label) — never SIM1's crossJoin with a
    // post-hoc filter over all-pairs scores
    val p = planOf(Similarity.queries, "sim9_filtered_topk")
    assert(p.joins("BHJ").nonEmpty, p)
    assert(keyed(p), p)
  }

  test("d17: repeated-span counts derive from the collapsed aggregate") {
    // the span recurrence join must be keyed on the span — an
    // unkeyed plan would be the all-pairs failure at corpus scale
    val p = planOf(TextAnalysis.queries, "d17_repeated_spans")
    assert(keyed(p), p)
    assert(p.aggregates.contains(PlanShape.Aggregate("partial", Seq("count"))),
      p)
  }

  test("sql5: the correlated scalar subquery decorrelates to an aggregate join") {
    // the per-part average threshold must become one grouped
    // aggregate joined back on the correlation key — never a scalar
    // subquery re-executed per probe row
    val p = planOf(Relational.queries, "sql5_scalar_subquery")
    assert(perRowSubqueries(p) == 0,
      s"per-row subquery survived decorrelation: $p")
    // the decorrelated aggregate over lineitem by l_partkey
    assert(p.aggregates.exists(_.functions.contains("avg")), p)
    assert(p.joins("Cartesian").isEmpty, p)
  }

  test("a20 pivot with enumerated values plans one aggregate, one scan") {
    val p = planOf(Relational.queries, "a20_pivot")
    assert(p.count("Union") == 0, p)
    assert(p.scans.size == 1,
      s"pivot must scan the fact table exactly once: $p")
  }

  test("a13 histogram: the 1-row bounds table joins as a broadcast") {
    // the global min/max aggregate is a single row — crossing it onto
    // the fact table must be a broadcast nested loop (replicated tiny
    // side), never a CartesianProduct that repartitions the fact side
    val p = planOf(Stats.queries, "a13_histogram")
    assert(p.joins("BNLJ").nonEmpty, p)
    assert(p.joins("Cartesian").isEmpty, p)
  }

  test("ds14 chunking is a stateless explode: no shuffle before the sort") {
    // the chunker must be a pure per-row generate — the only exchange
    // allowed is the presentation sort's range partitioning
    val p = planOf(DatasetOps.queries, "ds14_chunk_overlap")
    assert(p.count("Generate") > 0, p)
    assert(p.exchanges("hash").isEmpty, s"chunking must not shuffle: $p")
  }

  test("ds15 curriculum broadcasts the histogram, corpus never re-sorts") {
    // the distinct-score histogram and the 1-row count broadcast back
    // onto the corpus; the corpus itself must not pass through a
    // global (empty-key) sort window — only the bounded per-score
    // tie window and the tiny histogram's own prefix-sum window
    val p = planOf(DatasetOps.queries, "ds15_curriculum")
    assert(p.joins("BHJ").nonEmpty || p.exchanges("broadcast").nonEmpty, p)
    assert(p.joins("Cartesian").isEmpty, p)
  }

  test("sim8 MRL prefix search broadcasts queries, no projection compute") {
    // truncation is free: the coarse stage must plan as slice() over
    // the stored vector (no matrix-multiply subtree) with the 10-row
    // query side broadcast
    val p = planOf(Similarity.queries, "sim8_mrl_topk")
    assert(p.exchanges("broadcast").nonEmpty, p)
    assert(p.joins("Cartesian").isEmpty, p)
  }

  test("a69 trimmed mean: rank window and agg share the per-type key") {
    // one hash exchange on event_type serves both the rank window and
    // the final aggregate — the corpus shuffles once
    val p = planOf(Stats.queries, "a69_trimmed_mean")
    assert(p.exchanges("hash").size == 1, s"expected one hash exchange: $p")
  }

  test("mm10 scene change: per-doc window only, no corpus-wide window") {
    // the lag window partitions by doc_id — a missing partition key
    // would single-partition every sampled frame of the corpus
    val p = planOf(Multimodal.queries, "mm10_scene_change")
    assert(p.windows.nonEmpty &&
      p.windows.forall(_.partitionKeys == Seq("doc_id")), p)
    assert(p.exchanges("hash").contains(PlanShape.Exchange("hash",
      Seq("doc_id"))), s"lag window must key on doc_id: $p")
  }
  test("no-partition windows only ever sit on bounded hypothesis-grid frames") {
    // The WindowExec "No Partition Defined" warning marks a frame that
    // materializes on ONE partition — fatal on a corpus-sized input,
    // fine on a ≤O(grid) aggregate (a 20-row hypothesis grid, a
    // ranked p-value list). This guard enumerates every query whose
    // OPTIMIZED plan carries an empty-partition Window and pins the
    // set to the audited allowlist below, so a refactor that slips a
    // corpus-sized frame onto one partition (or silently grows the
    // list) fails here instead of in production. Each allowlisted
    // query's single-partition frame is post-aggregation: its row
    // count is bounded by the group/grid cardinality, not the corpus.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val families = Relational.queries ++ Windows.queries ++
      Stats.queries ++ LagGrid.queries ++ DatasetOps.queries ++
      Curation.queries ++ TextAnalysis.queries ++
      IntervalJoins.queries ++ Similarity.queries ++ Signals.queries
    val offenders = families.keys.toSeq.sorted.flatMap { name =>
      val hits = families(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
      if (hits.nonEmpty) Some(name) else None
    }
    val allow = Set(
      // day/month-level series frames (≤ calendar cardinality):
      "a10_risk_metrics", "a11_monthly_returns", "a12_annual_rollup",
      "a66_rank_corr", "w7_daily_returns", "a50_kaplan_meier",
      // hypothesis-grid / p-value ranking frames (≤ grid cells):
      "a14_heatmap_argmax", "a46_bh_fdr", "a63_holm", "a35_mw_pvalue",
      // the documented two-level ECDF merges (one single-partition
      // window each over the merged boundary set — see the a33/a35
      // test above); a97 reuses the identical bucketized rank frame
      // (its single-partition window is the ≤1024-row bucket spine);
      // a111 rides a35's exact decomposition (same bucket spine,
      // edge-distance scores instead of rank sums):
      "a33_ks_test", "a35_mannwhitney", "a97_cliffs_delta",
      "a111_ansari_bradley",
      // a112/a113/a114 share the cvmSpine: the same ≤1024-row bucket
      // offset frame (per-value cumulatives partition by bucket):
      "a112_cramer_von_mises", "a113_kuiper", "a114_anderson_darling",
      // a73's bucket-level cumulative: ≤ 1001 fixed bucket rows (the
      // two-level midrank decomposition; per-VALUE windows partition
      // by bucket):
      "a73_kruskal_wallis", "a73_kw_pvalue",
      // vocab-sized rank spines (≤ |vocab|, the operator's subject):
      "txt8_vocab", "txt15_zipf", "txt25_dispersion",
      // post-agg user-quartile spine (O(users) rows — the global
      // ntile A36's semantics require; documented in Relational):
      "a36_rfm",
      // distinct-score histogram spine, broadcast back (ds15's
      // integer-exact rank trick; the corpus-sized row_number is
      // PARTITIONED by score):
      "ds15_curriculum",
      // source-index spine: row_number over the ≤|sources| per-source
      // count frame, broadcast back (the corpus-sized permutation
      // rank is PARTITIONED by (source, shard) — ds19's two-level
      // decomposition):
      "ds19_interleave",
      // pipe6 composes ds19's interleave stage, inheriting the same
      // ≤|sources| spine (its split/rank windows are all partitioned):
      "pipe6_dedup_mix",
      // Q/MSW folds over the ≤k per-series aggregate frames (per-day
      // ranks partition by day; group moments are one hash agg):
      "a87_friedman", "a87_friedman_pvalue", "a88_tukey_pairs",
      // a101 reduces a87's ≤k-row frame once more (the same bounded
      // Q/MSW fold, one extra division — nothing corpus-sized):
      "a101_kendalls_w",
      // a108's alphabetical-j election: row_number over the ≤k
      // per-type rank-sum frame (the corpus-sized ranks partition
      // by day, a87's shape); a110 reuses the same ≤k election
      // (its daily-delta window partitions by type):
      "a108_page_trend", "a110_cochran_armitage",
      // a73's ≤1000-row bucket prefix window plus the ≤k group-frame
      // N fold (per-value ranks stay partitioned by bucket):
      "a89_dunn_pairs", "a89_dunn_pvalue",
      // the log-log regression folds over the fixed 7-checkpoint
      // frame (the corpus passes are hash aggs, never windows):
      "txt22_heaps_growth")
    assert(offenders.toSet == allow,
      s"no-partition window set drifted:\n  got   ${offenders.sorted}" +
      s"\n  allow ${allow.toList.sorted}")
  }
  test("d18 carries no broadcast hint — the shingle-df join must stay keyed") {
    // On a real corpus the 3-gram df table is vocabulary-sized
    // (billions of rows at 100 TB) — a broadcast hint on it is a
    // driver OOM written into the plan. The join must go through the
    // keyed shuffle on `w` (AQE may still broadcast AT RUNTIME when a
    // small SF makes the side tiny — that's the right behavior and
    // exactly why the hint, not the physical strategy, is what this
    // test pins).
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    val plan = TextAnalysis.queries("d18_prefix_jaccard")(spark, sf)
      .queryExecution.optimizedPlan
    val hinted = plan.collect { case j: Join if j.hint != JoinHint.NONE => j }
    assert(hinted.isEmpty,
      s"broadcast-hinted joins in d18:\n${hinted.mkString("\n")}")
  }

  test("sql24 (Q9): dims broadcast onto one fact chain, no nested loop") {
    // part/supplier/nation are tiny dims against the lineitem-orders
    // fact chain — each must broadcast; a cartesian/BNLJ anywhere is
    // the quadratic failure at 100 TB
    val p = planOf(Relational.queries, "sql24_tpch_q9")
    assert(p.joins("BHJ").size >= 3,
      s"part/supplier/nation should all broadcast: $p")
    assert(keyed(p), p)
  }

  test("sql25 (Q11): the HAVING threshold is a one-shot scalar subquery") {
    // the global total must execute exactly once and broadcast into
    // the post-agg filter — never re-aggregate per group
    val p = planOf(Relational.queries, "sql25_tpch_q11")
    assert(oneShot(p), s"expected the one-shot scalar total subquery: $p")
    assert(keyed(p), p)
  }

  test("sql26 (Q16): NOT IN plans as a hash null-aware anti join") {
    // the excluded-supplier NOT IN must become a BROADCAST HASH anti
    // join (single non-nullable key → NAAJ eligible); falling back to
    // BroadcastNestedLoopJoin would probe every lineitem row against
    // the whole exclusion list linearly
    val p = planOf(Relational.queries, "sql26_tpch_q16")
    assert(joinTypes(p).contains("LeftAnti"), p)
    assert(keyed(p), p)
  }

  test("sql27 (Q20): both IN levels decorrelate to keyed semi joins") {
    // supplier IN (… lineitem WHERE partkey IN (… part …)) — the
    // nested chain must plan as two keyed LeftSemi joins, no per-row
    // rescan at either level
    val p = planOf(Relational.queries, "sql27_tpch_q20")
    assert(joinTypes(p).count(_ == "LeftSemi") >= 2,
      s"both IN levels should be semi joins: $p")
    assert(perRowSubqueries(p) == 0,
      s"per-row subquery survived decorrelation: $p")
    assert(keyed(p), p)
  }

  test("sql29 (Q12): the ship-year window pushes to the lineitem scan; counts match a recompute") {
    val p = planOf(Relational.queries, "sql29_tpch_q12")
    assert(scanOf(p, "lineitem.parquet").pushedFilters
      .exists(_.startsWith("GreaterThanOrEqual(l_shipdate,")),
      s"ship window not pushed: $p")
    assert(keyed(p), p)
    // sequential recompute of both conditional counts per class
    val lo = LocalDateTime.parse("1996-01-01T00:00:00")
    val hi = LocalDateTime.parse("1997-01-01T00:00:00")
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate")).collect()
      .map(r => (r.getLong(0), ldt(r.get(1))))
      .filter(r => !r._2.isBefore(lo) && r._2.isBefore(hi))
    val om = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .collect().map(r => r.getLong(0) ->
        (ldt(r.get(1)), r.getString(2))).toMap
    val exp = li.map { case (ok, ship) =>
      val (od, pri) = om(ok)
      val lag = java.time.temporal.ChronoUnit.DAYS.between(
        od.toLocalDate, ship.toLocalDate)
      (if (lag > 60) "SLOW" else "FAST",
        pri == "1-URGENT" || pri == "2-HIGH")
    }.groupBy(_._1).map { case (cls, es) =>
      cls -> (es.count(_._2).toLong, es.count(!_._2).toLong) }
    val got = Relational.queries("sql29_tpch_q12")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == exp && got.keySet == Set("SLOW", "FAST"),
      s"got=$got exp=$exp")
  }

  test("sql28 (Q2): the correlated min decorrelates to one keyed agg-join") {
    // cost = (SELECT min(cost) WHERE same part) must become ONE
    // partkey-keyed min aggregate joined back — never a re-aggregation
    // of the offers table per outer row
    val p = planOf(Relational.queries, "sql28_tpch_q2")
    assert(perRowSubqueries(p) == 0,
      s"per-row subquery survived decorrelation: $p")
    assert(keyed(p), p)
  }

  test("sql30 (Q4): cross-side EXISTS decorrelates to one semi join; counts match") {
    // the EXISTS carries a predicate referencing BOTH sides
    // (datediff(outer orderdate, inner shipdate)) — it must still
    // plan as ONE left-semi hash join with the extra condition in
    // the join predicate, never a per-outer-row subquery
    val p = planOf(Relational.queries, "sql30_tpch_q4")
    assert(joinTypes(p).contains("LeftSemi"),
      s"EXISTS did not become a semi join: $p")
    assert(perRowSubqueries(p) == 0 && keyed(p), p)
    // sequential recompute of the priority counts
    val lo = LocalDateTime.parse("1996-01-01T00:00:00")
    val hi = LocalDateTime.parse("1996-07-01T00:00:00")
    val lateOrders: Map[Long, Array[(Long, LocalDateTime)]] =
      graft.Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_shipdate")).collect()
        .map(r => (r.getLong(0), ldt(r.get(1)))).groupBy(_._1)
    val exp = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .collect()
      .map(r => (r.getLong(0), ldt(r.get(1)), r.getString(2)))
      .filter(o => !o._2.isBefore(lo) && o._2.isBefore(hi))
      .filter(o => lateOrders.getOrElse(o._1,
        Array.empty[(Long, LocalDateTime)]).exists(l =>
        java.time.temporal.ChronoUnit.DAYS.between(
          o._2.toLocalDate, l._2.toLocalDate) > 60))
      .groupBy(_._3).map { case (p, os) => p -> os.size.toLong }
    val got = Relational.queries("sql30_tpch_q4")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exp, s"got=$got exp=$exp")
    assert(got.values.sum > 0, "vacuous: no late orders in the window")
  }

  test("sql31 (Q17): the correlated avg decorrelates; the small-order set is non-trivial") {
    val p = planOf(Relational.queries, "sql31_tpch_q17")
    assert(perRowSubqueries(p) == 0,
      s"per-row subquery survived decorrelation: $p")
    assert(keyed(p), p)
    val row = Relational.queries("sql31_tpch_q17")(spark, sf)
      .collect().head
    // the threshold really prunes: some but not all brand lineitems
    val brandAll = graft.Tables.lineitem(spark, sf).alias("l")
      .join(graft.Tables.part(spark, sf).alias("p"),
        col("p.p_partkey") === col("l.l_partkey"))
      .filter(col("p.p_brand") === "Brand#13").count()
    assert(row.getLong(1) > 0 && row.getLong(1) < brandAll,
      s"small=${row.getLong(1)} all=$brandAll")
    assert(row.getDouble(0) > 0)
  }

  test("txt27: both model joins plan as keyed equi-joins, no cartesian") {
    // the (source, w) model and the global model must attach via
    // hash equi-joins (the 1-row totals attach is a bounded broadcast
    // cross — the txt11 shape — and is the only non-equi join allowed)
    val p = planOf(TextAnalysis.queries, "txt27_domain_fit")
    assert(p.joins("Cartesian").isEmpty, p)
    assert(Seq("BHJ", "SMJ", "SHJ").exists(p.joins(_).nonEmpty), p)
  }

  test("mm15: pair counts shuffle once, no nested loop anywhere") {
    val p = planOf(Multimodal.queries, "mm15_byte_cond_entropy")
    assert(keyed(p), p)
  }

  test("d29/sim20: composed cluster/recall paths stay bucket-keyed") {
    for ((qs, q) <- Seq(
        (Dedup.queries, "d29_simhash_clusters"),
        (Similarity.queries, "sim20_recall_curve"))) {
      val p = planOf(qs, q)
      assert(p.joins("Cartesian").isEmpty, s"$q: $p")
    }
  }
}
