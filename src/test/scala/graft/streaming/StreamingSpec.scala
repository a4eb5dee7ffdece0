package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkTestSession, Tables}

/** Real Structured Streaming executions (T1/T2/T6): a readStream →
  * event-time window agg → checkpointed memory sink run must equal
  * the batch aggregate over the same data, and a kill/resume on the
  * same checkpoint must recover offsets + state (T2) — the Spark
  * re-expression of the reference's poll-loop + offset semantics
  * (`ingestion/producer.py:184-197`).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  private def batchExpected: Set[(String, String, Long, Double)] =
    Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(24,10)")).cast("double") /
          count(lit(1)), 6).as("avg_value"))
      .select(col("w.start").cast("string"), col("event_type"),
        col("n"), col("avg_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("win_start").cast("string"), col("event_type"),
        col("n"), col("avg_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

  /** Micro-batches of a finished replay that read input rows. */
  private def dataBatches(r: EventStream.Replay): Int =
    r.progress.count(_.numInputRows > 0)

  test("T1: a real streaming run equals the batch aggregate") {
    val streamed = asSet(EventStream.runStreamingAgg(spark, sf).out)
    assert(streamed == batchExpected)
  }

  test("staged rigs of two sf dirs with one basename stay apart") {
    // a second dir named like sf0.001 whose events are sf0.01's: if
    // rig dirs were derived from the basename, staging it would
    // overwrite sf0.001's staged halves and the sf0.001 run would
    // stream sf0.01's events (the cross-JVM clobber, in one JVM)
    val other = new java.io.File(
      SparkTestSession.fixtureDir("rig-isolation"), new java.io.File(sf).getName)
    other.mkdirs()
    val link = new java.io.File(other, "events.parquet").toPath
    java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(sf)
      .resolveSibling("sf0.01").resolve("events.parquet"))
    try {
      EventStream.stageRig(spark, sf)
      EventStream.stageRig(spark, other.getPath)
      assert(asSet(EventStream.runStreamingAgg(spark, sf).out) == batchExpected)
    } finally java.nio.file.Files.delete(link)
  }

  test("T2: kill + resume from checkpoint reconstructs the full result") {
    // runCheckpointResume feeds the chronological first half, stops the
    // query, appends the second half, and restarts on the SAME
    // checkpoint. Equality with the full-data batch aggregate holds
    // only if file-source offsets and aggregation state both recover.
    val resumed = asSet(EventStream.runCheckpointResume(spark, sf).out)
    assert(resumed == batchExpected)
  }

  test("T13: bounded backfill slices the replay AND equals the batch result") {
    // maxFilesPerTrigger=1 over a 2-file source must take (at least)
    // one micro-batch per file — the slicing is the point of the
    // operator; a single giant batch would be the failure mode the
    // pattern exists to avoid. Correctness under slicing is the same
    // equality every streaming run here asserts.
    val run = EventStream.runBoundedBackfill(spark, sf)
    assert(asSet(run.out) == batchExpected)
    assert(dataBatches(run) >= 2,
      s"backlog replayed in ${dataBatches(run)} batch(es); " +
        "expected the file-capped trigger to slice it")
  }

  test("T21: streaming HLL distinct within 5% of batch exact, sketches merged across batches") {
    import org.apache.spark.sql.functions._
    val run = EventStream.runStreamingApproxDistinct(spark, sf)
    val got = run.out.collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(dataBatches(run) >= 2,
      s"replayed in ${dataBatches(run)} batch(es); " +
        "the cross-batch sketch merge needs the file-capped trigger to slice")
    val exact = graft.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(col("w.start"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val err = math.abs(got(k) - n).toDouble / n
      assert(err <= 0.05, s"window $k: exact=$n streamed est=${got(k)} err=$err")
    }
  }

  test("T22: progress telemetry accounts for every corpus row across sliced batches") {
    val rows = EventStream.runProgressAudit(spark, sf).out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dataBatches = rows.filter(_._2 > 0)
    assert(dataBatches.length >= 2,
      s"file-capped trigger should slice: ${rows.toSeq}")
    // consecutive ids from 0 — a gap means telemetry lost a batch
    assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong),
      s"batch ids not consecutive: ${rows.map(_._1).toSeq}")
    val corpus = graft.Tables.events(spark, sf).count()
    assert(rows.map(_._2).sum == corpus,
      s"telemetry rows ${rows.map(_._2).sum} != corpus $corpus")
    // the complete-mode window agg holds state — the audit must see it
    assert(rows.exists(_._3 > 0), "no state rows reported")
  }

  test("T23: the Bloom ingest filter is exact on the ledger and loses <1% of new rows") {
    import org.apache.spark.sql.functions._
    val got = EventStream.runBloomIngestFilter(spark, sf).out.collect()
      .map(_.getLong(0)).toSet
    // ground truth from the same chronological halves the rig stages
    val ev = graft.Tables.events(spark, sf)
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).head()
    val mid = new java.sql.Timestamp(
      (bounds.getTimestamp(0).getTime + bounds.getTimestamp(1).getTime) / 2)
    val ledger = ev.filter(col("ts") <= lit(mid))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val fresh = ev.filter(col("ts") > lit(mid))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && fresh.nonEmpty)
    // no false negatives: NOTHING already ingested re-enters
    assert(got.intersect(ledger).isEmpty,
      s"ledger rows survived: ${got.intersect(ledger).take(5)}")
    // only genuinely-new rows, minus the bounded false-positive loss
    assert(got.subsetOf(fresh))
    val kept = got.size.toDouble / fresh.size
    assert(kept >= 0.99, s"FP loss too high: kept ${got.size}/${fresh.size}")
  }

  test("T20: SCD2 history merges across 2+ real micro-batches") {
    // the incremental merge must survive a real batch boundary (the
    // cross-batch current-attribute comparison is the hard path); a
    // single-batch run would make the history trivially right. The
    // result itself equals the one-shot batch derivation via the
    // DuckDB oracle; here we recompute it in-process as well.
    val run = EventStream.runScd2Maintain(spark, sf)
    val hist = run.out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(dataBatches(run) >= 2,
      s"history built in ${dataBatches(run)} batch(es)")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val wU = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val want = graft.Tables.events(spark, sf)
      .withColumn("prev", lag(col("event_type"), 1).over(wU))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(hist.nonEmpty && hist.toSet == want.toSet,
      s"history versions ${hist.length} vs batch change points ${want.length}")
  }

  test("T16: streaming session windows merge state across micro-batches") {
    // sf0.01 (read-only testdata): the only SF where a session spans
    // the replay midpoint — sf0.001's sessions are too sparse for the
    // cross-batch merge to be non-vacuous (measured: 0 spanning
    // sessions there, exactly 1 here).
    val sf01 = "/root/testdata/sf0.01"
    def asSess(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getLong(3), r.getDouble(4))).toSet
    val run = EventStream.runSessionStream(spark, sf01)
    val streamed = asSess(run.out)
    val batch = asSess(graft.SparkEntry.queries("t5_session_window")(spark, sf01))
    assert(streamed == batch)
    // the slicing actually happened — otherwise no cross-batch merge ran
    assert(dataBatches(run) >= 2,
      s"replay ran in ${dataBatches(run)} batch(es); " +
        "expected the file-capped trigger to slice it")
    // non-vacuity: at least one session has events on BOTH sides of the
    // replay midpoint (first event ≤ mid < last event), so the state
    // store really merged a session across the batch boundary
    val b = Tables.events(spark, sf01)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val mid = (b.getTimestamp(0).getTime + b.getTimestamp(1).getTime) / 2
    assert(streamed.exists(s =>
      s._2.getTime <= mid && s._3.getTime - 7200000L > mid),
      "no session spans the replay midpoint — merge path not exercised")
  }

  test("T17: watermark drops the planted late rows, result equals batch") {
    val run = EventStream.runLateDataDrop(spark, sf)
    val streamed = run.out
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    // planted = rows the stream read beyond the corpus itself
    val planted =
      run.progress.map(_.numInputRows).sum - Tables.events(spark, sf).count()
    val dropped = run.progress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    assert(planted > 0, "vacuous: nothing planted")
    assert(dropped == planted,
      s"dropped $dropped of $planted planted late rows")
    val expected = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(streamed == expected,
      s"extra=${streamed.diff(expected).take(3)} " +
        s"missing=${expected.diff(streamed).take(3)}")
  }

  test("T18: chained daily→weekly windows equal the batch weekly rollup") {
    val run = EventStream.runChainedWindows(spark, sf)
    val streamed = run.out
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val expected = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "7 days").as("wk"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(24,10)")).cast("double") /
          count(lit(1)), 6).as("avg_value"))
      .select(col("wk.start"), col("event_type"), col("n"),
        col("avg_value"))
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed == expected)
    // the chain genuinely ran as TWO stateful operators in one query —
    // not an optimizer collapse into a single aggregation
    val stateOps = run.progress.map(_.stateOperators.length).max
    assert(stateOps == 2, s"expected 2 stateful operators, saw $stateOps")
  }

  test("T14: dropDuplicatesWithinWatermark absorbs shifted-ts retransmits") {
    val ev = Tables.events(spark, sf)
    val total = ev.count()
    // non-vacuity: the rig re-delivers every 7th event at ts+30 s, so
    // the source holds MORE rows than the events table
    assert(ev.filter(col("event_id") % 7 === 0).count() > 0)
    val streamed = EventStream.runDedupWithinWatermark(spark, sf).out
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val expected = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(24,10)")).cast("double") /
          count(lit(1)), 6).as("avg_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed == expected)
    // each event counted exactly once: retransmits did NOT inflate n
    assert(streamed.toSeq.map(_._2).sum == total)
  }

  test("T6: watermarked streaming dedup+agg runs and stays bounded") {
    // The watermarked form (dropDuplicates under a 2-day watermark)
    // through a real streaming execution: drop events as JSON, run
    // dedupWindowAgg via readStream in update-less complete mode.
    val base = new java.io.File(graft.Fs.scratch("t6-stream"))
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    Tables.events(spark, sf).coalesce(1).write.mode("overwrite").json(src)
    val q = EventStream.dedupWindowAgg(EventStream.readJsonStream(spark, src))
      .writeStream.format("memory").queryName("t6_mem")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // sf0.001 has no duplicate event_ids → dedup is the identity and
    // the watermarked streaming result equals the plain batch agg.
    assert(asSet(spark.table("t6_mem")) == batchExpected)
  }

  test("source independence: MemoryStream and the file source agree on the stateful pipeline") {
    // The Kafka claim made testable without a broker: dedupWindowAgg
    // (watermark -> state-store dedup -> event-time window agg) is a
    // pure function of the arriving rows, independent of WHICH
    // streaming source implementation delivers them. Run the
    // identical transform through two genuinely different source
    // stacks — the JSON file source (offset = file list, the Kafka
    // stand-in everywhere else) and MemoryStream (DSv2 in-memory
    // source, offset = batch id) fed in 3 explicit batches — and
    // require bit-identical results, both equal to the batch
    // aggregate. A source-dependent leak (ordering assumptions,
    // per-source timestamp handling, state keyed on file identity)
    // would split the two.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // memory-source leg, 3 micro-batches
    val rows = Tables.events(spark, sf).as[EventStream.Event]
      .collect().sortBy(_.event_id)
    val ms = MemoryStream[EventStream.Event]
    val mq = EventStream.dedupWindowAgg(ms.toDF())
      .writeStream.format("memory").queryName("srcindep_mem")
      .outputMode("complete").start()
    rows.grouped(rows.length / 3 + 1).foreach { chunk =>
      ms.addData(chunk.toSeq); mq.processAllAvailable()
    }
    val dataBatches = mq.recentProgress.count(_.numInputRows > 0)
    val viaMemory = asSet(spark.table("srcindep_mem"))
    mq.stop()
    assert(dataBatches >= 2,
      s"replay must cross micro-batches to exercise state ($dataBatches)")
    // file-source leg over the same rows
    val base = new java.io.File(graft.Fs.scratch("srcindep"))
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    Tables.events(spark, sf).coalesce(1).write.mode("overwrite").json(src)
    val fq = EventStream.dedupWindowAgg(EventStream.readJsonStream(spark, src))
      .writeStream.format("memory").queryName("srcindep_file")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    fq.awaitTermination()
    val viaFile = asSet(spark.table("srcindep_file"))
    assert(viaMemory == viaFile,
      "the same pipeline diverged across source implementations")
    assert(viaFile == batchExpected)
  }

  test("format(\"kafka\") fails at DataSource lookup - the documented container boundary") {
    // Pins the README Kafka-section claim as an executable fact: the
    // spark-sql-kafka-0-10 connector jar is absent and unfetchable
    // (offline Coursier, zero egress), so the kafka source fails
    // BEFORE any plan is built. This is the precise boundary between
    // what this container proves (the source-agnostic stateful
    // pipeline - see "source independence" above) and what needs a
    // real cluster (the broker round-trip). If a future environment
    // DOES ship the connector, this test fails loudly and the
    // README's boundary section must be rewritten to run the real
    // thing instead.
    val e = intercept[Throwable] {
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", "localhost:9092")
        .option("subscribe", "events").load()
    }
    val msg = (Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse(""))
      .toLowerCase
    assert(msg.contains("kafka"),
      s"expected a kafka DataSource-lookup failure, got: $msg")
  }

  test("T8: flatMapGroupsWithState tallies survive a checkpoint restart") {
    import spark.implicits._
    val base = new java.io.File(graft.Fs.scratch("t8-stream"))
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    val h1 = s"$base/h1"; val h2 = s"$base/h2"
    val ev = Tables.events(spark, sf)
    val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
    ev.filter(col("event_id") <= maxId / 2)
      .coalesce(1).write.mode("overwrite").json(h1)
    ev.filter(col("event_id") > maxId / 2)
      .coalesce(1).write.mode("overwrite").json(h2)

    def copyParts(from: String): Unit = {
      val dst = new java.io.File(src); dst.mkdirs()
      Option(new java.io.File(from).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".json"))
        .foreach(f => java.nio.file.Files.copy(f.toPath,
          new java.io.File(dst, f.getName).toPath))
    }
    // the memory sink refuses checkpoint RECOVERY outside Complete
    // mode, so the restart test collects run-2 emissions through a
    // foreachBatch sink (which is recovery-capable) into a buffer
    val got = scala.collection.mutable.ArrayBuffer
      .empty[EventStream.KeyTally]
    def runOnce(collect: Boolean): Unit = {
      val q = EventStream.statefulTally(
          EventStream.readJsonStream(spark, src).as[EventStream.Event])
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[EventStream.KeyTally],
           _: Long) =>
            val rows = df.collect()
            if (collect) got.synchronized { got ++= rows }
            ()
        }
        .start()
      q.awaitTermination()
    }
    copyParts(h1); runOnce(collect = false)  // first run: first half only
    copyParts(h2); runOnce(collect = true)   // restart on the SAME ckpt

    // run-2 emits one updated tally per key that had new rows. If
    // state recovered, each of those tallies covers BOTH halves; if
    // it didn't, a key spanning the split reports only its
    // second-half count.
    val full = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), max(col("value")).as("mx"),
        min(col("value")).as("mn"), max(col("event_id")).as("lid"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toMap
    val run2 = got.groupBy(_.user_id).map { case (k, ts) =>
      // keep-final if AvailableNow sliced run 2 into several batches
      val t = ts.maxBy(_.n_events)
      k -> (t.n_events, t.max_value, t.min_value, t.last_event_id)
    }
    // non-vacuous: at least one key must span both halves
    val h1Keys = spark.read.schema(EventStream.eventSchema).json(h1)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(run2.keySet.exists(h1Keys), "no key spans the restart — vacuous")
    run2.foreach { case (k, tally) =>
      assert(tally == full(k), s"key $k: run-2 tally $tally != full ${full(k)}")
    }
  }

  test("T15: transformWithState tallies equal the batch GROUP BY") {
    // the new-API fold must land exactly where flatMapGroupsWithState
    // (T8) and the plain aggregate land — per-key, order-insensitive
    val df = EventStream.runTransformWithState(spark, sf).out
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSet
    val want = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("value").as("max_value"),
        min("value").as("min_value"), max("event_id").as("last_event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSet
    assert(got == want)
  }

  test("T26: the streaming drift monitor equals batch A77 row for row") {
    // the streamed complete-mode panel + foreachBatch re-derivation
    // must land EXACTLY on the batch detector (same pinned means,
    // same PH chain) — bitwise, including the alarm verdicts
    val got = EventStream.queries("t26_drift_monitor")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val want = graft.operators.Stats.queries("a77_page_hinkley")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    assert(got == want)
    // the detector is live: ph is nonnegative everywhere and some
    // day actually accumulates drift pressure
    assert(got.forall(_._4 >= 0.0))
    assert(got.exists(_._4 > 0.0), "vacuous: PH identically zero")
  }

  test("T12: the RocksDB provider actually backs the state store") {
    // the result compare (oracle) can't see WHICH provider ran — the
    // default heap provider would produce identical numbers. Prove
    // engagement from the checkpoint: RocksDB writes .changelog/.zip
    // state files where the default provider writes .delta/.snapshot.
    val run = EventStream.runRocksDbStateAgg(spark, SparkTestSession.Sf0001)
    assert(run.out.count() > 0)
    val stateDir = new java.io.File(s"${run.dir}/ckpt/state")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val names = walk(stateDir).map(_.getName)
    assert(names.exists(n => n.endsWith(".changelog") || n.endsWith(".zip")),
      s"no RocksDB state files under $stateDir: ${names.take(20)}")
    assert(!names.exists(_.endsWith(".delta")),
      "default-provider .delta files present — RocksDB did not engage")
  }

  test("T8 TTL: key state expires once the watermark passes last+ttl") {
    // Four single-event files processed as four micro-batches
    // (maxFilesPerTrigger=1). Key 1 appears in batch 1 (10:00) and
    // batch 4 (22:00); with a 1 h TTL the watermark (20:00 after
    // batch 2) passes key 1's 11:00 expiry during batch 3, the state
    // store drops it, and batch 4 restarts its count at 1. The
    // NoTimeout control over the same files keeps the state and
    // counts 2 — the pair proves expiry does exactly one thing.
    import spark.implicits._
    val base = new java.io.File(graft.Fs.scratch("t8-ttl"))
    val src = new java.io.File(base, "src"); src.mkdirs()
    def evJson(id: Long, hour: Int, user: Long): String =
      f"""{"event_id":$id,"ts":"2024-01-01T$hour%02d:00:00.000Z","user_id":$user,"event_type":"x","value":1.0,"props":"{}"}"""
    val files = Seq(
      "f1.json" -> evJson(1, 10, 1L),
      "f2.json" -> evJson(2, 20, 2L),
      "f3.json" -> evJson(3, 21, 3L),
      "f4.json" -> evJson(4, 22, 1L),
      // f5 is LATE: a 12:00 event arriving after the watermark reached
      // 22:00. Under EventTimeTimeout Spark filters late rows before
      // the user function (so key 5 never materializes in the ttl
      // run); under NoTimeout nothing filters and the key is tallied.
      // The pair pins this asymmetry — and documents why the operator
      // also clamps setTimeoutTimestamp (which throws below the
      // watermark) rather than relying on the filter
      "f5.json" -> evJson(5, 12, 5L))
    files.zipWithIndex.foreach { case ((name, line), i) =>
      val f = new java.io.File(src, name)
      java.nio.file.Files.write(f.toPath, (line + "\n").getBytes)
      f.setLastModified(1700000000000L + i * 60000L)  // batch order
    }

    def run(ttl: Option[java.time.Duration], tag: String): Map[Long, Long] = {
      val got = scala.collection.mutable.ArrayBuffer
        .empty[EventStream.KeyTally]
      val in = spark.readStream.schema(EventStream.eventSchema)
        .option("maxFilesPerTrigger", 1).json(src.getAbsolutePath)
        .withWatermark("ts", "0 seconds").as[EventStream.Event]
      val q = EventStream.statefulTally(in, ttl)
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$base/ckpt-$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[EventStream.KeyTally], _: Long) =>
            val rows = df.collect()
            got.synchronized { got ++= rows }
            ()
        }
        .start()
      q.awaitTermination()
      // final tally per key = the emission carrying its max event id
      got.groupBy(_.user_id)
        .map { case (k, ts) => k -> ts.maxBy(_.last_event_id).n_events }
    }

    val withTtl = run(Some(java.time.Duration.ofHours(1)), "ttl")
    val control = run(None, "nottl")
    assert(control(1L) == 2L, s"control must keep state: $control")
    assert(withTtl(1L) == 1L, s"state did not expire: $withTtl")
    // late-row asymmetry: EventTimeTimeout filters late input before
    // the function (key 5 never appears); NoTimeout processes it
    assert(!withTtl.contains(5L),
      s"EventTimeTimeout must filter the late row: $withTtl")
    assert(control(5L) == 1L, s"late key lost in control: $control")
    assert(withTtl(2L) == 1L && withTtl(3L) == 1L)
  }
}
