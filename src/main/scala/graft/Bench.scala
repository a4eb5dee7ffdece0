package graft

/** Per-round benchmark main: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology:
  *  - noop sink — full expression evaluation of every output column —
  *    rather than `.count()`, which would let Catalyst prune
  *    unreferenced projections and undercount (e.g. the round/pow/sqrt
  *    work in f3 would never execute);
  *  - MEDIAN of 3 runs per query: single-shot wall-clock in a shared
  *    sandbox is load-poisoned (round 3 recorded 13 s for a query that
  *    reruns at 2 s on a quiet machine) — the median of three
  *    back-to-back runs is robust to a one-off scheduler stall;
  *  - streaming test rigs (events-table JSON dumps for t1/t2/t4) are
  *    staged UNTIMED before the loop, so those entries time the
  *    readStream → sink query, not the scaffolding;
  *  - a query that throws reports duration -1.0 and is listed under
  *    "failed" — a fast failure must never read as a performance win.
  *
  * Round-over-round variance: entries in a FULL sweep share one JVM
  * with ~290 other queries' GC pressure, cached blocks, and codegen
  * cache churn, so individual timings can swing several-x between
  * rounds on unchanged code. Round 8→9 measured this directly: the six
  * entries that grew >=3x in the r8 full sweep (j3_point_lookup 3.13 s,
  * txt8_vocab, f6_sentiment_lexicon, s13_merge_dedup, t5_sliding_window,
  * ds6_length_batching) all returned to their r7 times when re-run in
  * isolation (j3 0.51 s, all six <= 0.51 s, SPARK_GRAFT_ONLY run at
  * sf0.1). Interpret per-query deltas across rounds only after an
  * isolated re-run; the suite TOTAL is the stable signal.
  */
object Bench {
  val Reps = 3
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Forcing the query map initializes every operator object, and with
    // it every shared build (MaterializedTable registers on construction).
    val queries = SparkEntry.queries
    val builds = MaterializedTable.registry
    // Local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 times just those
    // queries and builds. The driver never sets the filter, so round
    // artifacts always carry the full map.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach(SparkEntry.checkFilter("bench", _,
      queries.keySet ++ builds.map(_.name)))
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftExtensions.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Warm up the JVM (codegen, parquet reader, shuffle machinery)
    // before the timed loop, so startup cost isn't attributed to
    // whichever query the Map happens to iterate first.
    Tables.events(spark, sfDir).groupBy("event_type").count()
      .write.format("noop").mode("overwrite").save()
    // Stage the streaming rig (JSON render of events) outside the
    // timed region — t1/t2/t4 then only copy staged files + stream.
    graft.streaming.EventStream.stageRig(spark, sfDir)
    // `setup` runs UNTIMED before each rep — the build entries pass
    // their cache invalidation here, so the timed window measures only
    // the build, not the previous rep's teardown (blocking unpersist /
    // DROP TABLE / re-created tmp dirs)
    def medianOf(name: String, setup: () => Unit = () => ())(
        run: () => Unit): Double = {
      val times = (1 to Reps).map { _ =>
        setup()
        val t0 = System.nanoTime()
        try { run(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      }
      if (times.exists(_ < 0)) -1.0 else times.sorted.apply(Reps / 2)
    }
    // The shared builds (MinHash signatures for D3/D6, the lag grid for
    // the lag_grid selections, ...) run once per session, so median-of-3
    // would discard their one-time cost from every consuming query's
    // timing. Time each registered build as its own entry, in registry
    // order (upstream builds first, so each times only itself) —
    // invalidate before each rep so every rep pays the full build; the
    // final rep leaves a warm cache for the query loop (which then
    // times post-build consumption, as in production).
    def buildDef(b: MaterializedTable[_]): (String, () => Unit, () => Unit) =
      (b.name, () => b.invalidate(spark, sfDir),
        () => { b(spark, sfDir); () })
    val defs: Seq[(String, () => Unit, () => Unit)] =
      builds.filter(b => keep(b.name)).map(buildDef) ++
        queries.toSeq.sortBy(_._1).filter(q => keep(q._1))
          .map { case (name, fn) =>
            (name, () => (), () => {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            })
          }
    def loadAvg: Double = math.rint(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage * 100) / 100
    // Anchor all artifact reads/writes at the repo root (the dir
    // holding build.sbt above the CWD) — run from anywhere else, the
    // old `new File(".")` listing silently found no baseline and the
    // load-poisoning guard degraded to a no-op (round-10 advice).
    val repoRoot: java.io.File = {
      var dir = new java.io.File(".").getCanonicalFile
      while (dir != null && !new java.io.File(dir, "build.sbt").exists())
        dir = dir.getParentFile
      if (dir == null) new java.io.File(".").getCanonicalFile else dir
    }
    // The round being benched — one past the highest committed
    // BENCH_r{N}.json (overridable via SPARK_GRAFT_ROUND). Computed
    // up front because the guard below must EXCLUDE this round's own
    // artifact from baseline selection.
    val round = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt).getOrElse {
      val prev = Option(repoRoot.listFiles()).toSeq.flatten
        .flatMap(f => "^BENCH_r(\\d+)\\.json$".r
          .findFirstMatchIn(f.getName).map(_.group(1).toInt))
      if (prev.isEmpty) 1 else prev.max + 1
    }
    val loadStart = loadAvg
    def time(d: (String, () => Unit, () => Unit)): (String, Double) =
      d._1 -> medianOf(d._1, d._2)(d._3)
    val timed = defs.map(time)
    // A filtered run's kept queries may have built shared builds the
    // filter did not name, folding them into their first rep; time
    // each such build afterwards, in registry order, so it is reported.
    val lateDefs = builds
      .filter(b => !keep(b.name) && b.cached(spark, sfDir)).map(buildDef)
    val firstPass = timed ++ lateDefs.map(time)
    // Load-poisoning guard (round 10): a full sweep shares one machine
    // with whatever else runs, and round 9's working-tree refresh
    // proved a noisy sweep can overwrite a clean artifact with 5-13x
    // phantom regressions. Compare each entry against the PREVIOUS
    // committed round's full map; anything >3x slower (and >0.5 s
    // absolute growth — ratio alone flags 0.1 s noise) is re-run once
    // after the sweep, when its neighbors' load has drained, and the
    // better median wins. Re-run names are stamped into the artifact
    // ("reruns") together with the start/end 1-min load averages, so
    // a poisoned sweep is visible instead of silently authoritative.
    // Round-11 hardening: the baseline comes from PRIOR rounds only
    // (an own-round refresh must never baseline itself — a poisoned
    // value would instantly become authoritative), the chosen
    // baseline is stamped into the artifact, and a guard that finds
    // no usable baseline says so on stderr instead of silently
    // re-running nothing.
    // Round-12 hardening: baseline each entry against the per-entry
    // MIN across the last THREE prior-round artifacts, not the single
    // newest one. Load poisoning only ever inflates a timing, so min
    // is robust to any one bad sweep — round 11 proved the failure
    // mode: r10's committed artifact carried a load-poisoned 7.92 s
    // for a78_calibration (true ~0.9 s), so a 7.49 s phantom passed
    // the 3× rule against it. With the min over r9/r10/r11 the
    // baseline snaps back to the clean value regardless of which
    // single sweep was dirty.
    val (prevQueries: Map[String, Double], baselineName: String) = {
      val prevFiles = Option(repoRoot.listFiles()).toSeq.flatten
        .flatMap(f => "^BENCH_FULL_r(\\d+)\\.json$".r
          .findFirstMatchIn(f.getName).map(m => m.group(1).toInt -> f))
        .filter(_._1 < round)
        .sortBy(-_._1).take(3).map(_._2)
      def parse(f: java.io.File): Map[String, Double] = {
        val txt = new String(
          java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        val qStart = txt.indexOf("\"queries\":{")
        // a prior artifact from a DIFFERENT sf dir is no baseline —
        // cross-sf ratios would flag everything or nothing
        val sameSf = txt.contains(s""""sf":"$sfDir"""")
        if (qStart < 0 || !sameSf) Map.empty[String, Double]
        else {
          val body = txt.substring(qStart + 11, txt.indexOf("}", qStart))
          "\"([A-Za-z0-9_]+)\":(-?[0-9][0-9.eE+-]*)".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
      val maps = prevFiles.map(f => f.getName -> parse(f))
        .filter(_._2.nonEmpty)
      // per-entry min over positive readings only — a recorded failure
      // (-1) or zero in one artifact must not mask a real baseline in
      // another
      val merged = maps.flatMap(_._2.toSeq)
        .filter(_._2 > 0)
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
      if (merged.isEmpty)
        System.err.println("[bench] phantom-regression guard DISABLED: no " +
          s"usable prior-round BENCH_FULL_r<N<$round>.json (same sf=$sfDir) " +
          s"under $repoRoot")
      (merged, maps.map(_._1).mkString("min(", ",", ")") match {
        case "min()" => "none"
        case s => s
      })
    }
    // A BRAND-NEW entry has no prior-round baseline, so the 3× rule
    // can never flag it — which is exactly how a pathological first
    // implementation (mm14's O(L²) interpreted-HOF fold, 905 s at
    // sf0.1) sailed through a sweep unflagged. Absolute backstop: any
    // baseline-less entry over 60 s (4× the suite's slowest legit
    // query) is re-timed like a regression suspect; if the re-time
    // agrees, the number stands and the name in "reruns" marks it for
    // a human look. Entries whose only prior readings were recorded
    // failures (<= 0) are filtered out of the merged baseline above,
    // so they land here too instead of slipping between the two rules.
    // Round-13 per-class ratio: streaming rigs (trigger scheduling,
    // state-store churn, micro-batch wall-clock) have measurably
    // fatter tails than batch plans — r12's loaded rerun recorded
    // t18_chained_windows at 9.09 s, 3.13× its prior value, escaping
    // the 3× rule by ~2% only because the min-baseline happened to
    // hold the larger of two clean priors. A loaded first-pass
    // streaming time should never be authoritative, so EventStream-
    // backed entries use a 2.5× suspect ratio (same 0.5 s absolute
    // floor); batch entries keep 3×. The policy is stamped into the
    // artifact ("suspect_policy") so a reader knows which rule
    // produced the "reruns" list.
    val streamingEntries: Set[String] =
      graft.streaming.EventStream.queries.keySet
    def suspectRatio(name: String): Double =
      if (streamingEntries.contains(name)) 2.5 else 3.0
    val allSuspects = firstPass
      .filter { case (name, t) =>
        t > 0 && (prevQueries.get(name)
          .exists(p => p > 0 && t > suspectRatio(name) * p && t - p > 0.5) ||
          (!prevQueries.contains(name) && t > 60.0))
      }
      .sortBy { case (name, t) =>
        -(t / prevQueries.getOrElse(name, 1.0)) }
    val suspects = allSuspects.take(15).map(_._1)
    val suspectsDropped = allSuspects.drop(15).map(_._1)
    if (suspectsDropped.nonEmpty)
      System.err.println(s"[bench] WARNING: ${suspectsDropped.size} suspects " +
        s"beyond the 15-rerun cap keep their possibly-poisoned first-pass " +
        s"times: ${suspectsDropped.mkString(", ")}")
    val rerun: Map[String, Double] = suspects.flatMap { n =>
      (defs ++ lateDefs).find(_._1 == n).map(time)
    }.toMap
    val results = firstPass.map { case (n, t) =>
      n -> rerun.get(n).filter(t2 => t2 > 0 && t2 < t).getOrElse(t)
    }
    val loadEnd = loadAvg
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => s"\"$k\"" }
      .mkString("[", ",", "]")
    // Each rerun entry keeps BOTH readings — the possibly-poisoned
    // first pass and the quiet re-time — so a reader can tell "loaded
    // machine, rerun agreed" from "genuine regression" without
    // rebuilding the story from round-over-round diffs.
    val firstByName = firstPass.toMap
    val reruns = suspects.map { n =>
      s"""{"name":"$n","first":${firstByName.getOrElse(n, -1.0)},""" +
        s""""rerun":${rerun.getOrElse(n, -1.0)}}"""
    }.mkString("[", ",", "]")
    val droppedJson = suspectsDropped.map(n => s"\"$n\"")
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"reruns":$reruns,"suspects_dropped":$droppedJson,"baseline":"$baselineName","suspect_policy":{"batch_ratio":3.0,"streaming_ratio":2.5,"streaming_entries":${streamingEntries.size}},"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"sf":"$sfDir"}"""
    println(line)
    // Persist the COMPLETE per-query map to files as well: the harness
    // captures a bounded stdout tail, which truncated ~28 of 90 query
    // timings out of the round-5 artifact, and target/ is overwritten
    // by every run. BENCH_FULL_r{N}.json at the repo root is tracked,
    // so each round's full map survives in history.
    val bytes = (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = java.nio.file.Paths.get("target", "bench_full.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, bytes)
    if (only.isEmpty) // never clobber the round artifact from a filtered run
      java.nio.file.Files.write(
        repoRoot.toPath.resolve(f"BENCH_FULL_r$round%02d.json"), bytes)
    spark.stop()
  }
}
