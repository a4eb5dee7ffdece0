package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.TimestampNTZType

import graft.{SparkEntry, Tables}
import graft.functions.{Vader, VaderCompound}
import graft.operators._
import graft.streaming.EventStream

/** Timed calls of one run. Each call is built (construction, which may
  * launch Spark jobs of its own) and then executed; both phases are timed
  * from outside and, when a tracer is attached, tagged with the call's
  * module so the listener can split Spark's counters by module. */
final class Ops(val tracer: Option[Tracer]) {
  val opMs = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0
  /** (module, phase "c"|"x") → summed ms. */
  val phaseMs = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
  /** (module, op name, ms) of every successful call. */
  val calls = mutable.ArrayBuffer.empty[(String, String, Double)]

  private def tagged[T](label: String)(body: => T): T =
    tracer.fold(body)(_.span(label)(body))

  def op(module: String, name: String)(build: => DataFrame)(
      exec: DataFrame => Unit): Unit = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val df = tagged(s"$module|c")(build)
      val t1 = System.nanoTime()
      tagged(s"$module|x")(exec(df))
      val t2 = System.nanoTime()
      phaseMs((module, "c")) += (t1 - t0) / 1e6
      phaseMs((module, "x")) += (t2 - t1) / 1e6
      opMs += (t2 - t0) / 1e6
      calls += ((module, name, (t2 - t0) / 1e6))
    } catch {
      case e: Throwable => failures += (name -> Ops.cause(e))
    }
  }
}

object Ops {
  def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage)
      .linesIterator.nextOption().getOrElse("")}".take(300)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** One correctness check: `outDir` holds one parquet dir per checked
  * operation plus `oracle_sql.json`, compared by `scripts/local_check.py`
  * against the tables of `sfDir`. `eventsParts`, when set, is a Spark
  * output dir the comparator first needs as a single `events.parquet`. */
final case class Gate(outDir: String, sfDir: String,
                      eventsParts: Option[String], ops: Map[String, String])

/** A workload: inputs are prepared once, `warm` runs untimed passes, and
  * the measured loop repeats `pass`. */
trait Workload {
  /** Minimum measured passes, whatever `--seconds` says. */
  def minPasses: Int
  def prepare(spark: SparkSession): Unit
  /** The untimed passes before measuring: compile the workload's plans,
    * warm the JIT and fill the session's caches. */
  def warm(spark: SparkSession, ops: Ops): Unit
  /** Asserts the generated inputs have the fixture's schema. */
  def guard(): Unit

  def pass(spark: SparkSession, i: Int, ops: Ops): Unit
  /** Untimed bookkeeping after a measured pass (never inside the timer). */
  def afterPass(stats: mutable.Map[String, Double]): Unit = ()
  /** Tables the workload reads, for the traced load timing. */
  def tables: Seq[(String, String)]
  /** Untimed: dumps what the oracles compare, records throws in
    * `failures` and returns the comparisons for `scripts/local_check.py`. */
  def gate(spark: SparkSession, out: String,
           failures: mutable.ArrayBuffer[(String, String)]): Seq[Gate]
}

object Workloads {

  private def oracle(name: String, dir: String): String =
    SparkEntry.oracleSql(name).replace(Dumps.SfTag, Dumps.tag(dir))

  /** Writes `df` the way `graft.Verify` does, one dir per checked op. */
  private def dump(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  private def rm(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) graft.Fs.deleteRecursively(f)
  }

  /** Removes the engine's /tmp scratch derived from a dir basename. */
  def cleanTmp(tag: String): Unit =
    Option(new File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft") &&
        (f.getName.endsWith(s"_$tag.parquet") || f.getName.endsWith(s"-$tag")))
      .foreach(f => graft.Fs.deleteRecursively(f))

  /** Streams a backlog into a parquet sink (`Trigger.AvailableNow`), then
    * scores the headlines into `<scored>/events.parquet`. The two stages of
    * the product chain that produce its input; shared by `chain` (timed)
    * and `slider` (preparation). */
  final class Ingest(backlog: String, filesPerTrigger: Int) {
    def stream(spark: SparkSession, ops: Ops, work: String): Unit =
      ops.op("EventStream", "ingest")(
        EventStream.readJsonStream(spark, backlog, Some(filesPerTrigger))) {
        df =>
          df.writeStream.format("parquet")
            .option("checkpointLocation", s"$work/ckpt")
            .trigger(Trigger.AvailableNow())
            .start(s"$work/sink")
            .awaitTermination()
      }

    /** value = 100·(1 + compound), so the signal stage's
      * `sent = avg_v/100 − 1` is the mean compound score. */
    def score(spark: SparkSession, ops: Ops, work: String,
              scored: String): Unit =
      ops.op("VaderCompound", "score")(
        spark.read.schema(EventStream.eventSchema).parquet(s"$work/sink")
          .select(col("event_id"), col("ts").cast(TimestampNTZType).as("ts"),
            col("user_id"), col("event_type"),
            (lit(100.0) * (lit(1.0) + VaderCompound.compound(
              get_json_object(col("props"), "$.title")))).as("value"),
            col("props"))) {
        _.write.mode("overwrite").parquet(s"$scored/events.parquet")
      }
  }

  /** Checks stored VADER values against the scalar scorer on a seeded
    * sample of rows. */
  def checkVader(spark: SparkSession, scored: String, seed: Long,
                 failures: mutable.ArrayBuffer[(String, String)]): Unit = {
    val m = 97L
    val r = new SplittableRandom(seed).nextLong(m)
    val rows = Tables.events(spark, scored)
      .filter(col("event_id") % m === r)
      .select(get_json_object(col("props"), "$.title"), col("value"))
      .collect()
    val bad = rows.find { row =>
      val want = 100.0 * (1.0 + Vader.compound(row.getString(0)))
      java.lang.Double.doubleToLongBits(want) !=
        java.lang.Double.doubleToLongBits(row.getDouble(1))
    }
    if (rows.isEmpty) failures += ("score" -> "VADER sample is empty")
    bad.foreach { row =>
      failures += ("score" -> (s"VADER mismatch on '${row.getString(0)}': " +
        s"stored ${row.getDouble(1)}"))
    }
  }

  /** The product chain; every pass streams the same backlog into fresh
    * directories, so no pass reads another's state. */
  final class Chain(work: String, runTag: String, seed: Long,
                    size: Inputs.BacklogSize, filesPerTrigger: Int)
      extends Workload {
    val minPasses = 2
    private var ingest: Ingest = _
    private val warmTag = s"$runTag-w"

    def prepare(spark: SparkSession): Unit =
      ingest = new Ingest(
        Inputs.writeBacklog(s"$work/backlog", seed, size), filesPerTrigger)

    private def runPass(spark: SparkSession, tag: String, ops: Ops): Unit = {
      val scratch = s"$work/$tag-stream"
      val scored = s"$work/$tag"
      ingest.stream(spark, ops, scratch)
      ingest.score(spark, ops, scratch, scored)
      ops.op("LagGrid", "lag_grid")(LagGrid.gridPlan(spark, scored))(Ops.noop)
      ops.op("Signals", "signals")(Signals.pipeline(spark, scored))(Ops.noop)
      ops.op("Backtest.fold", "fold")(Backtest.run(spark, scored))(Ops.noop)
      ops.op("Backtest.metrics", "metrics")(Backtest.fullMetricsOf(
        Backtest.run(spark, scored), BacktestConfig.Default.initialCash))(
        Ops.noop)
    }

    private def drop(tag: String): Unit = {
      rm(s"$work/$tag-stream"); rm(s"$work/$tag"); cleanTmp(tag)
    }

    /** The first pass pays the one-time costs; the JIT then keeps
      * compiling for several more (process CPU per pass falls by about
      * half over the next four), so the next pass stays untimed too. */
    def warm(spark: SparkSession, ops: Ops): Unit = {
      runPass(spark, warmTag, ops)
      runPass(spark, s"$warmTag-jit", ops)
      drop(s"$warmTag-jit")
    }

    def guard(): Unit = {
      Inputs.guardEventsSchema(s"$work/$warmTag/events.parquet")
      drop(warmTag)
    }

    // pass tags are unique across measured windows: the engine's
    // write-once memos are keyed by dir, so a reused tag would find its
    // memo set and its dumps already removed
    private var passes = 0
    private var current, previous: Option[String] = None

    def pass(spark: SparkSession, i: Int, ops: Ops): Unit = {
      val tag = s"$runTag-p$passes"
      passes += 1
      current = Some(tag)
      runPass(spark, tag, ops)
    }

    override def afterPass(stats: mutable.Map[String, Double]): Unit = {
      current.foreach { tag =>
        stats("sink_bytes") = stats.getOrElse("sink_bytes", 0.0) +
          du(new File(s"$work/$tag-stream/sink"))
      }
      previous.foreach(drop)
      previous = current
    }

    def tables: Seq[(String, String)] = current.map(t => s"$work/$t" -> "events").toSeq

    def gate(spark: SparkSession, out: String,
             failures: mutable.ArrayBuffer[(String, String)]): Seq[Gate] = {
      val scored = s"$work/${current.get}"
      checkVader(spark, scored, seed, failures)
      val gateDir = s"$out/${Dumps.tag(scored)}"
      val ok = Seq("lag_grid_corr", "p8_signal_pipeline", "t7_portfolio_fold",
        "t7_full_metrics").filter { q =>
        try { dump(SparkEntry.queries(q)(spark, scored), s"$gateDir/$q"); true }
        catch { case e: Throwable => failures += (q -> Ops.cause(e)); false }
      }
      writeOracles(gateDir, ok.map(q => q -> oracle(q, scored)).toMap)
      Seq(Gate(gateDir, s"$gateDir-sf", Some(s"$scored/events.parquet"),
        ok.map(q => q -> q).toMap))
    }
  }

  /** A slider point: signal thresholds plus the backtest exits. */
  final case class Point(sig: SignalConfig, bt: BacktestConfig) {
    def label: String = s"tau=${sig.tau},minNews=${sig.minNews}," +
      s"hold=${bt.holdDays},stop=${bt.stopLoss},take=${bt.takeProfit}"
  }

  /** The shipped configs, then seeded points. */
  def sliderPoints(seed: Long, n: Int): IndexedSeq[Point] = {
    val rng = new SplittableRandom(seed ^ 0x5L)
    val taus = IndexedSeq(0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.5)
    val stops = IndexedSeq(-0.02, -0.03, -0.05, -0.08, -0.1, -0.15)
    val takes = IndexedSeq(0.05, 0.1, 0.15, 0.2, 0.3, 0.4)
    val shipped = IndexedSeq(
      Point(SignalConfig.Default, BacktestConfig.Default),
      Point(SignalConfig.Strict, BacktestConfig.Default),
      Point(SignalConfig.Default, BacktestConfig.Hold24))
    shipped ++ IndexedSeq.fill(n - shipped.size) {
      Point(SignalConfig(taus(rng.nextInt(taus.size)), 2 + rng.nextInt(40)),
        BacktestConfig.Default.copy(holdDays = 2 + rng.nextInt(29),
          stopLoss = stops(rng.nextInt(stops.size)),
          takeProfit = takes(rng.nextInt(takes.size))))
    }
  }

  /** The p8 oracle at a point's thresholds: the shipped Default oracle
    * with its three threshold literals replaced. */
  def signalsOracle(cfg: SignalConfig, dir: String): String = {
    val base = oracle("p8_signal_pipeline", dir)
    val d = SignalConfig.Default
    val swaps = Seq(
      s"d.n < ${d.minNews} " -> s"d.n < ${cfg.minNews} ",
      s"d.sent > ${d.tau} " -> s"d.sent > ${cfg.tau} ",
      s"d.sent < -${d.tau} " -> s"d.sent < -${cfg.tau} ")
    swaps.foldLeft(base) { case (sql, (from, to)) =>
      require(sql.split(java.util.regex.Pattern.quote(from), -1).length == 2,
        s"p8 oracle no longer has exactly one '$from'")
      sql.replace(from, to)
    }
  }

  final class Slider(work: String, runTag: String, seed: Long,
                     size: Inputs.BacklogSize, checked: Int)
      extends Workload {
    val minPasses = 5
    val points: IndexedSeq[Point] = sliderPoints(seed, 12)
    private val scored = s"$work/$runTag"
    private val cash = BacktestConfig.Default.initialCash

    def prepare(spark: SparkSession): Unit = {
      val backlog = Inputs.writeBacklog(s"$work/backlog", seed, size)
      val ingest = new Ingest(backlog, math.max(1, size.files / 4))
      val ops = new Ops(None)
      ingest.stream(spark, ops, s"$work/stream")
      ingest.score(spark, ops, s"$work/stream", scored)
      ops.failures.headOption.foreach { case (op, why) =>
        throw new IllegalStateException(s"slider input $op failed: $why")
      }
      rm(s"$work/stream")
    }

    def guard(): Unit = Inputs.guardEventsSchema(s"$scored/events.parquet")

    def warm(spark: SparkSession, ops: Ops): Unit = rerun(spark, points(0), ops)

    private def rerun(spark: SparkSession, p: Point, ops: Ops): Unit = {
      ops.op("Signals", s"signals[${p.label}]")(
        Signals.pipeline(spark, scored, p.sig))(Ops.noop)
      ops.op("Backtest.fold", s"fold[${p.label}]")(
        Backtest.run(spark, scored, p.bt))(Ops.noop)
      ops.op("Backtest.metrics", s"metrics[${p.label}]")(
        Backtest.fullMetricsOf(Backtest.run(spark, scored, p.bt), cash))(
        Ops.noop)
    }

    def pass(spark: SparkSession, i: Int, ops: Ops): Unit =
      rerun(spark, points(i % points.size), ops)

    def tables: Seq[(String, String)] = Seq(scored -> "events")

    def gate(spark: SparkSession, out: String,
             failures: mutable.ArrayBuffer[(String, String)]): Seq[Gate] = {
      val dir = s"$out/slider"
      val oracles = mutable.Map.empty[String, String]
      val ops = mutable.Map.empty[String, String]
      // the fold replay oracle runs one DuckDB recursion step per day, so
      // it runs once per distinct shipped backtest config; every checked
      // point's metrics are checked against its own dumped fold
      val replayed = mutable.Set.empty[BacktestConfig]
      points.take(checked).zipWithIndex.foreach { case (p, i) =>
        def check(name: String, what: String, sql: => Option[String])(
            df: => DataFrame): Unit =
          try {
            dump(df, s"$dir/$name")
            sql.foreach { q =>
              oracles(name) = q
              ops(name) = s"$what[${p.label}]"
            }
          } catch {
            case e: Throwable => failures += (s"$what[${p.label}]" -> Ops.cause(e))
          }
        check(s"sig_$i", "signals", Some(signalsOracle(p.sig, scored)))(
          Signals.pipeline(spark, scored, p.sig))
        val shipped = Seq(BacktestConfig.Default, BacktestConfig.Hold24)
          .contains(p.bt)
        check(s"fold_$i", "fold",
          if (shipped && replayed.add(p.bt)) Some(BenchOracles.fold(p.bt)
            .replace(Dumps.SfTag, Dumps.tag(scored)))
          else None)(Backtest.run(spark, scored, p.bt))
        val foldDump = s"'${Dumps.oraclePath("t7_fold")}/*.parquet'"
          .replace(Dumps.SfTag, Dumps.tag(scored))
        check(s"met_$i", "metrics", Some(
          oracle("t7_full_metrics", scored)
            .replace(foldDump, s"'$dir/fold_$i/*.parquet'")))(
          Backtest.fullMetricsOf(Backtest.run(spark, scored, p.bt), cash))
      }
      writeOracles(dir, oracles.toMap)
      Seq(Gate(dir, s"$dir-sf", Some(s"$scored/events.parquet"), ops.toMap))
    }
  }

  /** The 16 query maps of `SparkEntry.queries`, by module name. */
  val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("Relational" -> Relational.queries, "Windows" -> Windows.queries,
      "IntervalJoins" -> IntervalJoins.queries, "Stats" -> Stats.queries,
      "Signals" -> Signals.queries, "Dedup" -> Dedup.queries,
      "Similarity" -> Similarity.queries,
      "TextAnalysis" -> TextAnalysis.queries,
      "Multimodal" -> Multimodal.queries, "EventStream" -> EventStream.queries,
      "Backtest" -> Backtest.queries, "SourceSinks" -> SourceSinks.queries,
      "LagGrid" -> LagGrid.queries, "DatasetOps" -> DatasetOps.queries,
      "Curation" -> Curation.queries,
      "SourceQueries" -> graft.sources.SourceQueries.queries)

  /** Recorded cost of a query (`surface_costs.tsv`). */
  final case class Cost(warmMs: Double, oracleMs: Double)

  /** Longest oracle the gate runs: the sample's oracles must fit in a run. */
  val MaxOracleMs = 2000.0

  /** Seeded sample stratified by module: one query per query map, drawn
    * among the (up to) three queries whose recorded cost is nearest the
    * module's cheapest and within 15% of it. Every module is covered, the
    * sample sits in the fixed-cost regime (its queries do little work
    * beyond construction and job launch), and every seed's pass costs about
    * the same. Queries whose oracle is slower than
    * [[MaxOracleMs]] are not drawn, so the gate checks every sampled query
    * that has an oracle. */
  def surfaceSample(seed: Long, costs: Map[String, Cost]): Seq[(String, String)] = {
    val rng = new SplittableRandom(seed ^ 0x9L)
    val picked = families.map { case (fam, qs) =>
      val known = qs.keys.filter(costs.contains).toSeq.sorted
      val warm = known.map(costs(_).warmMs).sorted
      val target = warm.head
      val near = known
        .filter(q => costs(q).oracleMs >= 0 && costs(q).oracleMs <= MaxOracleMs)
        .sortBy(q => (math.abs(costs(q).warmMs - target), q))
      val band = near.take(3)
        .filter(q => math.abs(costs(q).warmMs - target) <= 0.15 * target)
      val from = if (band.nonEmpty) band else near.take(1)
      fam -> from(rng.nextInt(from.size))
    }
    // a seeded order, so no module always runs first
    picked.map(p => (rng.nextLong(), p)).sortBy(_._1).map(_._2)
  }

  /** Each query writes its result as parquet, which the gate then compares
    * with the query's oracle: the checked outputs are the measured ones. */
  final class Surface(work: String, runTag: String, fixture: String,
                      sample: Seq[(String, String)]) extends Workload {
    val minPasses = 2
    private val alias = s"$work/$runTag"
    private val out = s"$work/out"
    private val fns = SparkEntry.queries

    def prepare(spark: SparkSession): Unit = Inputs.aliasFixture(fixture, alias)

    /** The first pass pays each query's one-time costs (memos, schema
      * inference, codegen) and still runs about 20% slow in the one after
      * it while the JIT compiles; both stay out of the measured window. */
    def warm(spark: SparkSession, ops: Ops): Unit =
      for (i <- 0 until 2) pass(spark, i, ops)

    def guard(): Unit = Inputs.guardEventsSchema(s"$alias/events.parquet")

    def pass(spark: SparkSession, i: Int, ops: Ops): Unit =
      sample.foreach { case (fam, q) =>
        ops.op(fam, q)(fns(q)(spark, alias)) {
          _.write.mode("overwrite").parquet(s"$out/$q")
        }
      }

    def tables: Seq[(String, String)] =
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").map(alias -> _)

    def gate(spark: SparkSession, outRoot: String,
             failures: mutable.ArrayBuffer[(String, String)]): Seq[Gate] = {
      val checked = sample.map(_._2).filter(SparkEntry.oracleSql.contains)
      writeOracles(out, checked.map(q => q -> oracle(q, alias)).toMap)
      Seq(Gate(out, alias, None, checked.map(q => q -> q).toMap))
    }
  }

  private def writeOracles(dir: String, oracles: Map[String, String]): Unit = {
    new File(dir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "oracle_sql.json"), Json.render(oracles))
  }

  def du(f: File): Double =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
    else if (f.isFile) f.length().toDouble else 0.0
}
