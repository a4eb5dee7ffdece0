package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Tables

/** Benchmark runner: runs one workload in this process and writes the raw
  * measurements to `<work>/result.json` for `perfbench/run.py`, which runs
  * the oracle comparison and prints the metrics.
  *
  * Order of a run: three set-ups, input generation, untimed warm passes,
  * the schema guard, the measured window with no hooks attached, then, with
  * `--trace 1`, the same window again with the tracer attached, and last
  * the untimed correctness gate.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, bench: String,
                        fixture: String, tiny: Boolean, cpus: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("work"), get("bench"), get("fixture"),
      kv.get("tiny").contains("1"), get("cpus").toInt)
  }

  /** The session of `graft.Bench`/`graft.Verify`, with Spark's own scratch
    * kept in the run's work dir. */
  private[perfbench] def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(a: Args, runTag: String): Workload = {
    import Inputs.BacklogSize
    a.workload match {
      case "chain" =>
        val size =
          if (a.tiny) BacklogSize(rows = 4000, keys = 8, days = 20, files = 8)
          else BacklogSize(rows = 30000, keys = 30, days = 60, files = 32)
        new Workloads.Chain(a.work, runTag, a.seed, size,
          filesPerTrigger = size.files / 4)
      case "slider" =>
        // the reference's key and article counts (10 tickers, ~10k
        // articles); 60 days, so the fold replay oracle fits in a run
        val size =
          if (a.tiny) BacklogSize(rows = 2000, keys = 4, days = 20, files = 4)
          else BacklogSize(rows = 10000, keys = 10, days = 60, files = 16)
        new Workloads.Slider(a.work, runTag, a.seed, size, checked = 5)
      case "surface" =>
        val src = scala.io.Source.fromFile(s"${a.bench}/surface_costs.tsv")
        val costs = try src.getLines().filterNot(_.startsWith("#"))
          .map(_.split("\t"))
          .map(f => f(0) -> Workloads.Cost(f(2).toDouble, f(3).toDouble)).toMap
          finally src.close()
        val sample = Workloads.surfaceSample(a.seed, costs)
        new Workloads.Surface(a.work, runTag, a.fixture,
          if (a.tiny) sample.take(3) else sample)
      case other => sys.error(s"unknown workload $other")
    }
  }

  /** One measured window. */
  final case class Window(passMs: Seq[Double], passCpuS: Seq[Double],
                          ops: Ops, stealPct: Double, loadAvg: Double,
                          stats: Map[String, Double]) {
    def passes: Int = passMs.size
  }

  /** Repeats passes until `seconds` have passed and at least `minPasses`
    * are done; a run never measures past 90 s. */
  private def measure(spark: SparkSession, w: Workload, seconds: Double,
                      ops: Ops): Window = {
    val passMs = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val stats = mutable.Map.empty[String, Double]
    val host0 = Host.cpu()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (i == 0 ||
        ((elapsed < seconds || i < w.minPasses) && elapsed < 90)) {
      val c0 = Host.processCpuNs()
      val t0 = System.nanoTime()
      w.pass(spark, i, ops)
      passMs += (System.nanoTime() - t0) / 1e6
      passCpu += (Host.processCpuNs() - c0) / 1e9
      log(f"pass $i: ${passMs.last}%.0f ms, ${passCpu.last}%.2f cpu s")
      w.afterPass(stats)
      i += 1
    }
    Window(passMs.toSeq, passCpu.toSeq, ops,
      Host.stealPct(host0, Host.cpu()), Host.loadAvg1(), stats.toMap)
  }

  /** Progress goes to the run's log, never to the result. */
  private def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val runTag =
      s"pb-${a.workload}-s${a.seed}-${ProcessHandle.current().pid()}"
    val w = workload(a, runTag)
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    val setupS = mutable.ArrayBuffer.empty[Double]

    // Three set-ups: process start to a session that has run its first
    // job, then twice a fresh session to its first job. The measured window
    // runs in the third session, after untimed warm passes over the
    // workload (plans compiled, JIT warm, session caches filled).
    def firstJob(s: SparkSession): Unit =
      Ops.noop(s.range(0, 1000, 1, a.cpus).selectExpr("sum(id)"))
    var spark = session(a.cpus, a.work)
    firstJob(spark)
    setupS += (System.currentTimeMillis() - jvmStartMs) / 1e3
    for (_ <- 2 to 3) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(a.cpus, a.work)
      firstJob(spark)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    log(s"set-ups: ${setupS.map(x => f"$x%.2f").mkString(", ")} s")
    w.prepare(spark)
    val warmOps = new Ops(None)
    val tw = System.nanoTime()
    w.warm(spark, warmOps)
    val warmS = (System.nanoTime() - tw) / 1e9
    log(f"warm passes: $warmS%.2f s")
    w.guard()

    val plain = measure(spark, w, a.seconds, new Ops(None))
    val peakRssMb = Host.peakRssMb()

    var attempted = warmOps.attempted + plain.ops.attempted
    val layers: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else {
        val tracer = new Tracer(spark)
        val traced = measure(spark, w, a.seconds, new Ops(Some(tracer)))
        val loadMs = for ((dir, t) <- w.tables; _ <- 1 to 3) yield {
          val t0 = System.nanoTime()
          tracer.span("Tables|load")(Tables.table(spark, dir, t))
          (System.nanoTime() - t0) / 1e6
        }
        val (acc, compileMs) = tracer.finish()
        failures ++= traced.ops.failures
        attempted += traced.ops.attempted
        Layers.metrics(a.workload, plain, traced, tracer, acc, compileMs,
          loadMs)
      }

    log("gate")
    val gates = w.gate(spark, s"${a.work}/gate", failures)
    spark.stop()
    log("done")

    failures.prependAll(warmOps.failures ++ plain.ops.failures)
    val result = Map(
      "setup_s" -> setupS.toSeq,
      "warm_s" -> warmS,
      "pass_ms" -> plain.passMs,
      "pass_cpu_s" -> plain.passCpuS,
      "op_ms" -> plain.ops.opMs.toSeq,
      "peak_rss_mb" -> peakRssMb,
      "steal_pct" -> plain.stealPct,
      "load_avg" -> plain.loadAvg,
      "attempted" -> attempted,
      "failures" -> failures.toSeq.map { case (op, why) =>
        Map("op" -> op, "cause" -> why) },
      "gates" -> gates.map(g => Map("out_dir" -> g.outDir, "sf_dir" -> g.sfDir,
        "events_parts" -> g.eventsParts, "ops" -> g.ops)),
      "layers" -> layers.map { case (n, v, u) =>
        Map("name" -> n, "value" -> v, "unit" -> u) })
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(a.work, "result.json"), Json.render(result))
    // stray non-daemon threads (streaming, shuffle) must not keep the
    // process alive after the result is written
    sys.exit(0)
  }
}

/** Loads the classes every run needs before its first timed call (a
  * session, a first job, a shuffle, a parquet round trip) and exits, so
  * that `run.py` can have the JVM archive them once after each build.
  * Arguments: `<work dir> <cpus>`. */
object Archive {
  def main(argv: Array[String]): Unit = {
    val Array(work, cpus) = argv
    val spark = Main.session(cpus.toInt, work)
    val df = spark.range(0, 10000, 1, cpus.toInt)
      .selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v")
    df.write.mode("overwrite").parquet(s"$work/archive.parquet")
    spark.read.parquet(s"$work/archive.parquet").collect()
    spark.stop()
    sys.exit(0)
  }
}

/** Per-layer metrics of a traced window, per pass. */
object Layers {
  val Families: Seq[String] = Workloads.families.map(_._1)

  def metrics(workload: String, plain: Main.Window, traced: Main.Window,
              tracer: Tracer, acc: Map[String, LayerAcc], compileMs: Double,
              loadMs: Seq[Double]): Seq[(String, Double, String)] = {
    val n = math.max(traced.passes, 1).toDouble
    val ops = traced.ops
    def labels(p: String => Boolean): Iterable[LayerAcc] =
      acc.collect { case (k, v) if p(k) => v }
    val work = labels(_ != "Tables|load")
    def module(m: String): Iterable[LayerAcc] =
      labels(k => k == s"$m|c" || k == s"$m|x")
    def ms(m: String): Double = ops.phaseMs((m, "c")) + ops.phaseMs((m, "x"))
    def skew(as: Iterable[LayerAcc]): Double =
      as.flatMap(_.stageSkew).maxOption.getOrElse(0.0)
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val streamMs = ms("EventStream")
    val vaderCpuS = module("VaderCompound").map(_.cpuNs).sum / 1e9
    val load = acc.get("Tables|load")
    Seq(
      ("construct.ms", ops.phaseMs.collect { case ((_, "c"), v) => v }.sum / n, "ms"),
      ("construct.jobs", labels(_.endsWith("|c")).map(_.jobs).sum / n, "count"),
      ("Tables.load_ms", med(loadMs), "ms"),
      ("Tables.load_jobs", load.map(_.jobs).getOrElse(0L) / math.max(loadMs.size, 1).toDouble, "count"),
      ("catalyst.analysis_ms", tracer.catalystMs("analysis") / n, "ms"),
      ("catalyst.optimization_ms", tracer.catalystMs("optimization") / n, "ms"),
      ("catalyst.planning_ms", tracer.catalystMs("planning") / n, "ms"),
      ("spark.jobs", work.map(_.jobs).sum / n, "count"),
      ("spark.stages", work.map(_.stages).sum / n, "count"),
      ("spark.tasks", work.map(_.tasks).sum / n, "count"),
      ("spark.codegen_compile_ms", compileMs / n, "ms"),
      ("spark.executor_run_ms", work.map(_.runMs).sum / n, "ms"),
      ("spark.executor_cpu_ms", work.map(_.cpuNs).sum / 1e6 / n, "ms"),
      ("spark.gc_ms", work.map(_.gcMs).sum / n, "ms"),
      ("spark.shuffle_read_bytes", work.map(_.shuffleRead).sum / n, "bytes"),
      ("spark.shuffle_write_bytes", work.map(_.shuffleWrite).sum / n, "bytes"),
      ("spark.spill_bytes", work.map(_.spill).sum / n, "bytes"),
      ("spark.task_max_over_p50", skew(work), "ratio"),
      ("EventStream.ms", streamMs / n, "ms"),
      ("EventStream.batches", tracer.batches / n, "count"),
      ("EventStream.rows_per_s",
        if (streamMs > 0) tracer.streamRows / (streamMs / 1e3) else 0.0, "rows/s"),
      ("EventStream.sink_bytes", traced.stats.getOrElse("sink_bytes", 0.0) / n, "bytes"),
      ("EventStream.add_batch_ms", tracer.streamMs("addBatch") / n, "ms"),
      ("EventStream.wal_commit_ms", tracer.streamMs("walCommit") / n, "ms"),
      ("EventStream.commit_offsets_ms", tracer.streamMs("commitOffsets") / n, "ms"),
      ("EventStream.query_planning_ms", tracer.streamMs("queryPlanning") / n, "ms"),
      ("VaderCompound.ms", ms("VaderCompound") / n, "ms"),
      ("VaderCompound.executor_cpu_ms", vaderCpuS * 1e3 / n, "ms"),
      ("VaderCompound.rows_per_cpu_s",
        if (vaderCpuS > 0) module("VaderCompound").map(_.records).sum / vaderCpuS
        else 0.0, "rows/cpu_s"),
      ("LagGrid.ms", ms("LagGrid") / n, "ms"),
      ("LagGrid.executor_cpu_ms", module("LagGrid").map(_.cpuNs).sum / 1e6 / n, "ms"),
      ("LagGrid.shuffle_write_bytes", module("LagGrid").map(_.shuffleWrite).sum / n, "bytes"),
      ("LagGrid.task_max_over_p50", skew(module("LagGrid")), "ratio"),
      ("Signals.construct_ms", ops.phaseMs(("Signals", "c")) / n, "ms"),
      ("Signals.exec_ms", ops.phaseMs(("Signals", "x")) / n, "ms"),
      ("Signals.jobs", module("Signals").map(_.jobs).sum / n, "count"),
      ("Backtest.fold_ms", ms("Backtest.fold") / n, "ms"),
      ("Backtest.metrics_ms", ms("Backtest.metrics") / n, "ms"),
      ("Backtest.jobs", labels(_.startsWith("Backtest")).map(_.jobs).sum / n, "count")
    ) ++ Families.map { f =>
      (s"operators.$f.p50_ms",
        if (workload == "surface") med(ops.calls.collect { case (`f`, _, t) => t }.toSeq)
        else 0.0, "ms")
    } ++ Seq(
      ("host.steal_pct", traced.stealPct, "%"),
      ("host.load_avg", traced.loadAvg, "load"),
      ("host.trace_overhead_pct",
        (med(traced.passMs) / math.max(med(plain.passMs), 1e-9) - 1) * 100, "%"))
  }
}

/** Minimal JSON rendering for the result file and the oracle bundles. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
