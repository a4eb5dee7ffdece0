package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}
import graft.{GraftExtensions, Tables}

/** Structured-Streaming pipeline over events-shaped data (T1–T6,
  * S11–S12) — the Spark-native re-expression of the reference's
  * Kafka poller/producer/consumer loop (`ingestion/producer.py:184-197`,
  * `consumer/consumer.py:4-15`, poll loop `tests/test-producer.py:24-26`).
  *
  * The SAME transform (`dedupWindowAgg`) runs on a batch DataFrame and
  * on a readStream DataFrame — StreamingSpec asserts equal results.
  * Streaming semantics:
  *  - T1 micro-batch trigger: supplied at writeStream time;
  *  - T2 resume: checkpoint + file-source offsets (Kafka offsets on a
  *    real broker — no broker in this container, so tests use the
  *    file source with identical plan shape);
  *  - T3 stateful dedup: dropDuplicates("event_id") scoped by the
  *    watermark — BOUNDED state, unlike the reference's ever-growing
  *    seen_ids set (divergence documented in SURVEY §7.3);
  *  - T5/T6 event-time windowed agg with late-data handling via
  *    withWatermark.
  */
object EventStream {

  /** Explicit schema for the streaming source (no inference on streams). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling event-time aggregation shared by the batch and streaming
    * dedup pipelines. `value` is averaged through DECIMAL so partial
    * aggregation order (which differs between Spark plans and the
    * DuckDB oracle) cannot flip a ×1e6 rounding half-boundary — exact
    * decimal sums are order-insensitive where double sums are not. */
  private def windowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(24,10)")).cast("double") /
          count(lit(1)), 6).as("avg_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("avg_value"))

  /** Streaming form: watermarked state-store dedup (bounded state,
    * unlike the reference's ever-growing seen_ids set) + window agg. */
  def dedupWindowAgg(events: DataFrame): DataFrame =
    windowAgg(events.withWatermark("ts", "2 days").dropDuplicates("event_id"))

  /** Batch form: DETERMINISTIC keep-first dedup — row_number over
    * (ts, user_id, value) per event_id, matching the oracle's tiebreak
    * exactly (streaming dropDuplicates keeps an arbitrary row; a batch
    * correctness gate needs a total order). */
  def dedupWindowAggBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id")
      .orderBy(col("ts"), col("user_id"), col("value"))
    windowAgg(events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn"))
  }

  /** S11: keyed Kafka-sink payload — key = event id, value = JSON.
    * On a real cluster this feeds `.writeStream.format("kafka")`;
    * the payload shape is what the reference's producer emits
    * (`ingestion/producer.py:58-63,173-182`). */
  def kafkaPayload(events: DataFrame): DataFrame =
    events.select(
      col("event_id").cast("string").as("key"),
      to_json(struct(col("event_id"), col("event_type"), col("user_id"),
        col("value"))).as("value"))

  /** Timestamp format for the JSON rig: Spark's default truncates to
    * milliseconds on WRITE, which would silently shave sub-ms event
    * times off every streamed row (first visible in T10, whose output
    * carries raw timestamps the oracle compares at full precision). */
  private val TsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** File-drop streaming source over a JSON-lines directory (stands in
    * for the Kafka source S12; identical downstream plan).
    * `maxFilesPerTrigger` bounds each micro-batch for the T13 backfill
    * (the Kafka analogue is `maxOffsetsPerTrigger`). */
  def readJsonStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(eventSchema)
      .option("timestampFormat", TsFormat)
    maxFilesPerTrigger.fold(r)(n =>
      r.option("maxFilesPerTrigger", n.toString)).json(dir)
  }

  // ---- T8: custom keyed state (flatMapGroupsWithState) ------------------

  /** One event row in typed form (the custom-state path runs on a
    * Dataset; fields match [[eventSchema]]). */
  final case class Event(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String,
                         value: Double, props: String)

  /** Per-key running tally — the reference consumer's per-ticker
    * counters (`consumer/consumer.py:4-15` keeps per-topic tallies in
    * process memory; here the state store holds them, checkpointed
    * and restorable). Fields are deliberately order-insensitive
    * aggregates (count / extremes / max id), so the final tally is
    * identical regardless of micro-batch slicing. */
  final case class KeyTally(user_id: Long, n_events: Long,
                            max_value: Double, min_value: Double,
                            last_event_id: Long)

  /** The one streaming shape built-in aggregations cannot express:
    * arbitrary per-key state evolved by a user function.
    * `flatMapGroupsWithState` in Update mode — each micro-batch folds
    * its new rows into the key's stored tally and emits the updated
    * row; the state store persists tallies across batches AND across
    * restarts (StreamingSpec proves recovery on a second run over the
    * same checkpoint). At scale: state is hash-partitioned by key
    * across executors; per-key memory is O(1).
    *
    * State lifetime: with `ttl` set, a key's state expires once the
    * event-time watermark passes its last event + ttl
    * (`EventTimeTimeout` — the input must be watermarked); the
    * unbounded-key production shape, where a retired key must not pin
    * store memory forever (the bug the reference's ever-growing
    * `seen_ids` set has, `consumer/consumer.py`). Without `ttl`,
    * tallies are immortal (`NoTimeout`) — correct for the BOUNDED
    * historical replay in [[runStatefulTally]], where the watermark
    * races far ahead of old keys mid-replay and an expiry would
    * wrongly restart their counts. */
  def statefulTally(events: org.apache.spark.sql.Dataset[Event],
                    ttl: Option[java.time.Duration] = None)
      : org.apache.spark.sql.Dataset[KeyTally] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined)
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()
      else org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[KeyTally, KeyTally](
        org.apache.spark.sql.streaming.OutputMode.Update(), timeoutConf) {
        (key, rows, state: org.apache.spark.sql.streaming.GroupState[KeyTally]) =>
          if (state.hasTimedOut) {
            // watermark passed last event + ttl: release the key's state
            state.remove()
            Iterator.empty
          } else {
            var t = state.getOption.getOrElse(KeyTally(key, 0L,
              Double.NegativeInfinity, Double.PositiveInfinity, Long.MinValue))
            var maxTs = Long.MinValue
            rows.foreach { e =>
              t = KeyTally(key, t.n_events + 1,
                math.max(t.max_value, e.value), math.min(t.min_value, e.value),
                math.max(t.last_event_id, e.event_id))
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            state.update(t)
            // clamp above the current watermark: setTimeoutTimestamp
            // THROWS (killing the query) if handed a timestamp the
            // watermark already passed. In EventTimeTimeout mode Spark
            // filters late input before this function, so surviving
            // rows normally keep maxTs+ttl above the watermark — the
            // clamp is defense in depth against that implicit coupling
            // (a ttl shorter than the gap to the watermark, or a
            // future Spark relaxing the filter, must degrade to
            // expire-next-tick, not crash the stream). StreamingSpec
            // pins the late-row filter asymmetry this relies on.
            ttl.foreach { dur =>
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(maxTs + dur.toMillis, wm + 1))
            }
            Iterator.single(t)
          }
      }
  }

  /** A key emits once per micro-batch that carried its rows and
    * `n_events` is strictly monotone per key, so keep-max-n yields the
    * final tally no matter how AvailableNow sliced the files (T8, T15). */
  private def finalTallies(emitted: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    emitted
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** T8 as a REAL streaming run: deliver the full rig, fold through
    * the state store, land updated tallies in an update-mode memory
    * sink; [[finalTallies]] reads the final tally per key. */
  def runStatefulTally(s: SparkSession, d: String): Replay = {
    import s.implicits._
    replay(s, d, "t8")((ev, _) =>
      toMemory(statefulTally(ev.as[Event]).toDF(), "t8_mem", "update"))(
      _ => finalTallies(s.table("t8_mem")))
  }

  // ---- Replay rig --------------------------------------------------------
  // Rendering the events table as JSON is test scaffolding, not the
  // streaming engine: it is staged ONCE per sfDir ([[stageRig]]) so a
  // benchmark (or repeated Verify run) times only the readStream → sink
  // query. Each timed query then copies the staged part files into a
  // fresh source dir — the "message arrival" step of the file-source
  // stand-in, analogous to records landing on a Kafka topic — and runs
  // to completion through [[replay]].

  /** A finished bounded replay: the query's result, the query's own
    * per-batch `recentProgress` (input rows, watermark drops, state
    * operators — what StreamingSpec asserts on), and the run dir whose
    * `src`/`ckpt` and sink output the result reads lazily. */
  final case class Replay(out: DataFrame,
                          progress: Seq[StreamingQueryProgress],
                          dir: String)

  /** The staged source of one sfDir: the events table as two
    * chronological JSON halves (first / second half by the ts midpoint
    * — the T2 resume protocol's split) and the corpus event-time
    * horizon (max ts, which the T10o/T18 sentinels sit past). The T17
    * late plant and the T14 retransmits are further deterministic
    * renders of the same immutable corpus, staged on first use. */
  final class Rig private[EventStream] (s: SparkSession, d: String,
      dir: String, val horizon: java.sql.Timestamp) {
    val half1 = s"$dir/half1"
    val half2 = s"$dir/half2"

    /** T17's plant: every 11th event with a fresh negative id at
      * ts − 60 d. */
    lazy val latePlant: String = {
      Tables.events(s, d).filter(col("event_id") % 11 === 0)
        .withColumn("event_id", -col("event_id") - 1000000L)
        .withColumn("ts", col("ts") - expr("INTERVAL 60 DAYS"))
        .coalesce(1).write.option("timestampFormat", TsFormat)
        .json(s"$dir/late")
      s"$dir/late"
    }

    /** T14's retransmits: every 7th event re-delivered with its event
      * time shifted +30 s — same event_id, DIFFERENT event time, the
      * duplicate shape a flaky producer actually emits (the reference's
      * producer re-sends on ack timeout with a fresh timestamp,
      * `ingestion/producer.py:184-197`). */
    lazy val retransmits: String = {
      Tables.events(s, d).filter(col("event_id") % 7 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 30 SECONDS"))
        .coalesce(1).write.option("timestampFormat", TsFormat)
        .json(s"$dir/retrans")
      s"$dir/retrans"
    }
  }

  private val rigs = scala.collection.mutable.Map.empty[String, Rig]

  /** `d`'s [[Rig]], staged on first call. Idempotent per sfDir; safe to
    * call untimed before a benchmark. */
  def stageRig(s: SparkSession, d: String): Rig = rigs.synchronized {
    rigs.getOrElseUpdate(d, {
      val dir = graft.Fs.scratch("rig")
      val ev = Tables.events(s, d)
      val bounds = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        .head()
      val mid = new java.sql.Timestamp(
        (bounds.getTimestamp(0).getTime + bounds.getTimestamp(1).getTime) / 2)
      ev.filter(col("ts") <= lit(mid)).coalesce(1)
        .write.option("timestampFormat", TsFormat).json(s"$dir/half1")
      ev.filter(col("ts") > lit(mid)).coalesce(1)
        .write.option("timestampFormat", TsFormat).json(s"$dir/half2")
      new Rig(s, d, dir, bounds.getTimestamp(1))
    })
  }

  /** Drop staged JSON part files into a source dir (file arrival). */
  private def deliver(stagedDir: String, srcDir: String): Unit = {
    val dst = new java.io.File(srcDir); dst.mkdirs()
    Option(new java.io.File(stagedDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".json"))
      .foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(dst, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
  }

  private def deliverHalves(rig: Rig, src: String): Unit = {
    deliver(rig.half1, src); deliver(rig.half2, src)
  }

  /** The T10o/T18 source: ONE data file (the halves concatenated), then
    * two sentinel files 30 and 60 days past the corpus horizon, each
    * holding one event per entry of `types` (entry i: id −days−i, user
    * −1−i, ids and users no real event shares). Read one file per
    * micro-batch, the first sentinel's batch advances the watermark
    * past every data window and the second's EXECUTES under it,
    * flushing the expired state (see [[runStreamStreamOuterJoin]]).
    * One data file keeps the replay at three batches: each extra
    * micro-batch pays the full per-partition state-store open/commit
    * cycle, the dominant cost of these queries at test scale. */
  private def sentinelLadder(types: String*)(rig: Rig, src: String): Unit = {
    new java.io.File(src).mkdirs()
    val dataOut = java.nio.file.Paths.get(src, "aa_data.json")
    val halves = Seq(rig.half1, rig.half2).flatMap(h =>
      Option(new java.io.File(h).listFiles()).getOrElse(Array.empty).toSeq
        .filter(_.getName.endsWith(".json")).sortBy(_.getName))
    val out = java.nio.file.Files.newOutputStream(dataOut)
    try halves.foreach(f => java.nio.file.Files.copy(f.toPath, out))
    finally out.close()
    // FileStreamSource orders pending files by MODIFICATION TIME, not
    // name — on a coarse-mtime filesystem the three back-to-back
    // writes could tie and run a sentinel batch BEFORE the data batch
    // (whose rows would then all be discarded as late). Pin an
    // explicit minute-spaced mtime ladder so the order is never
    // granularity-dependent.
    val t0 = dataOut.toFile.lastModified()
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern(TsFormat).withZone(java.time.ZoneOffset.UTC)
    for (days <- Seq(30, 60)) {
      val sentinelTs =
        fmt.format(rig.horizon.toInstant.plus(java.time.Duration.ofDays(days)))
      val rows = types.zipWithIndex.map { case (tpe, i) =>
        s"""{"event_id":${-days - i},"ts":"$sentinelTs","user_id":${-1 - i},""" +
          s""""event_type":"$tpe","value":0.0,"props":"{}"}""" + "\n"
      }
      val f = java.nio.file.Paths.get(src, s"zz_sentinel_$days.json")
      java.nio.file.Files.writeString(f, rows.mkString)
      f.toFile.setLastModified(t0 + days * 60000L)
    }
  }

  /** Bounded-replay shuffle width: every STATEFUL operator opens one
    * state store per shuffle partition per micro-batch, so a
    * toy-sized replay at the session's width pays mostly store churn
    * (measured: the t10_outer rig halved from this alone). Every rig
    * query runs at 8 partitions, restored after — the checkpoint pins
    * the width at first start, so resumes stay consistent; stateless
    * queries plan no shuffle, so the width does not touch them.
    * Production keeps the session width: there state VOLUME, not store
    * count, dominates. Result invariance to shuffle width is
    * DeterminismSpec's assertion. */
  private val ReplayWidth = "spark.sql.shuffle.partitions" -> "8"

  /** The RocksDB state-store provider (T12, T15). The provider is a
    * session conf snapshot at query start, set for the run only, so the
    * other streaming queries keep exercising the default provider. One
    * RocksDB INSTANCE opens per shuffle partition per stateful operator
    * per batch — the replay-width rationale applies doubly. */
  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** A named memory sink: the result table the run reads back. */
  private def toMemory(df: DataFrame, name: String,
                       mode: String): DataStreamWriter[Row] =
    df.writeStream.format("memory").queryName(name).outputMode(mode)

  /** Run the query `w` builds to completion on checkpoint `ckpt`:
    * start → `Trigger.AvailableNow` (the batch-bounded form of the
    * reference's 300 s poll loop, `tests/test-producer.py:24-26`) →
    * awaitTermination, with [[ReplayWidth]] and `confs` set while the
    * query is built and run. Returns the finished query's progress. */
  private def drain(s: SparkSession, ckpt: String, confs: (String, String)*)(
      w: => DataStreamWriter[Row]): Seq[StreamingQueryProgress] =
    GraftExtensions.withConfs(s, ReplayWidth +: confs: _*) {
      val q = w.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }

  /** One bounded replay of `d`'s rig: a fresh run dir whose `src` is
    * filled by `stage` (both halves by default) and whose `ckpt` holds
    * the checkpoint; `write` turns the source stream (capped at
    * `maxFilesPerTrigger` files per micro-batch) into a sink, given the
    * run dir; the query runs under [[drain]]; `read` returns the result
    * from the run dir. */
  private def replay(s: SparkSession, d: String, tag: String,
      maxFilesPerTrigger: Option[Int] = None,
      confs: Seq[(String, String)] = Nil,
      stage: (Rig, String) => Unit = deliverHalves)(
      write: (DataFrame, String) => DataStreamWriter[Row])(
      read: String => DataFrame): Replay = {
    val rig = stageRig(s, d)
    val dir = graft.Fs.scratch(tag)
    stage(rig, s"$dir/src")
    val progress = drain(s, s"$dir/ckpt", confs: _*)(
      write(readJsonStream(s, s"$dir/src", maxFilesPerTrigger), dir))
    Replay(read(dir), progress, dir)
  }

  /** T13: bounded backfill — the operational answer to "replay a month
    * of backlog without one giant batch": Trigger.AvailableNow drains
    * everything currently in the source and stops, while
    * `maxFilesPerTrigger = 1` (Kafka: maxOffsetsPerTrigger) caps each
    * micro-batch, so the backlog replays as a SEQUENCE of
    * bounded-memory batches with state + checkpoint advancing per
    * batch. The result must equal the one-shot batch aggregate no
    * matter how the slicing landed — exactly what the oracle checks;
    * StreamingSpec asserts from the returned progress that the slicing
    * actually happened. */
  def runBoundedBackfill(s: SparkSession, d: String): Replay =
    replay(s, d, "t13", maxFilesPerTrigger = Some(1))((ev, _) =>
      toMemory(windowAgg(ev), "t13_mem", "complete"))(
      _ => s.table("t13_mem"))

  /** T16: streaming SESSION windows — the one windowing mode where
    * micro-batch boundaries genuinely matter: a session spanning two
    * batches must MERGE in the state store (tumbling windows just
    * accumulate into disjoint buckets; session windows coalesce
    * overlapping [ts, ts+gap) intervals, and Spark's session state
    * re-reads + re-merges the key's open sessions per batch). The rig
    * replays the events chronologically as two file-batches split at
    * the ts midpoint (`maxFilesPerTrigger = 1`), so every
    * midpoint-spanning session exercises the cross-batch merge;
    * StreamingSpec pins the slicing from the returned progress.
    * Complete mode emits the final merged sessions without watermark
    * eviction at replay scale; production uses append mode +
    * `withWatermark` so closed sessions evict and state stays bounded
    * — same plan shape. Oracle = T5's lag/cumsum island
    * reconstruction (the batch definition of a 2 h-gap session). */
  def runSessionStream(s: SparkSession, d: String): Replay =
    replay(s, d, "t16", maxFilesPerTrigger = Some(1))((ev, _) =>
      toMemory(ev
        .groupBy(session_window(col("ts"), "2 hours").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(24,10)")).cast("double") /
            count(lit(1)), 6).as("avg_value"))
        .select(col("user_id"), col("w.start").as("sess_start"),
          col("w.end").as("sess_end"), col("n"), col("avg_value")),
        "t16_mem", "complete"))(
      _ => s.table("t16_mem"))

  /** T17: watermark LATE-DATA DROP made observable — the semantics T14
    * (dedup of retransmits) never surfaces: rows arriving after the
    * watermark has passed their event time are DISCARDED, and the
    * engine counts them (`numRowsDroppedByWatermark`). Two engine
    * facts shape the rig, both measured on this Spark version:
    * (1) streaming AGGREGATIONS do not pre-filter late input at all —
    * a late row resurrects its long-closed window, which is then
    * instantly evicted and emitted (late windows appear in the
    * output); the operator with enforced late-row dropping is the
    * watermarked DEDUP, used here. (2) under Trigger.AvailableNow the
    * late-events watermark stays at its query-start value for the
    * whole run (nothing is ever "too late"), so this rig runs a real
    * incremental delivery: start on the data file, drain it
    * (processAllAvailable — deterministic, no sleeps), THEN deliver
    * the late file so its batch runs under the advanced watermark.
    * The plant: every 11th event re-delivered with a FRESH negative
    * id at ts − 60 days — if the drop failed, the result would carry
    * extra ids (rows mismatch) rather than silently passing. Result =
    * the deduped on-time stream = exactly the original events table
    * (oracle); StreamingSpec pins the progress's drop count to the
    * plant size (input rows beyond the corpus). */
  def runLateDataDrop(s: SparkSession, d: String): Replay = {
    val rig = stageRig(s, d)
    val dir = graft.Fs.scratch("t17"); val src = s"$dir/src"
    deliverHalves(rig, src)
    // the late plant is staged once per sfDir (the stageRig
    // convention): a deterministic render of the immutable corpus, so
    // each rep times the watermark drop, not a corpus scan + JSON write
    val late = rig.latePlant
    val progress = GraftExtensions.withConfs(s, ReplayWidth) {
      val q = toMemory(readJsonStream(s, src)
          .withWatermark("ts", "2 days")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("event_type"), col("value")),
          "t17_mem", "append")
        .option("checkpointLocation", s"$dir/ckpt")
        // 10 ms poll: the trigger interval is rig plumbing — it only
        // bounds how fast the source NOTICES the late file after
        // deliver(); the declared operation (the watermark drop) is
        // identical at any interval. 250 ms added up to half a second
        // of pure discovery latency across the two processAllAvailable
        // fences (round-15 profiling); the per-tick cost of a shorter
        // interval is one listing of a two-file directory.
        .trigger(Trigger.ProcessingTime("10 milliseconds"))
        .start()
      try {
        q.processAllAvailable()        // data batch: watermark advances
        deliver(late, src)             // late batch: runs under max-2d
        q.processAllAvailable()
        q.recentProgress.toSeq
      } finally q.stop()
    }
    Replay(s.table("t17_mem"), progress, dir)
  }

  /** T18: CHAINED stateful aggregation — daily windows re-aggregated
    * to weekly windows inside ONE streaming query (`window()` over the
    * first agg's window struct), the Spark-4 multiple-stateful-
    * operators path that previously demanded two queries glued by a
    * sink. Both stages run in append mode with watermark propagation:
    * a daily window emits into the weekly agg when the watermark
    * passes its end, the weekly window when it passes the WEEK's end.
    * The T10 two-sentinel ladder flushes the tail (emission/eviction
    * watermarks DO advance under AvailableNow — only the late-events
    * watermark is pinned, the T17 finding — so the bounded replay
    * works here); sentinel windows are excluded after the aggregates
    * by type. The weekly sum runs on the daily DECIMAL partials, so
    * the final avg is exact regardless of how days landed in batches.
    * Oracle: the batch weekly rollup with epoch-aligned 7-day buckets
    * (Spark's window origin), n + decimal-exact avg. */
  def runChainedWindows(s: SparkSession, d: String): Replay =
    replay(s, d, "t18", maxFilesPerTrigger = Some(1),
        stage = sentinelLadder("sentinel"))((ev, _) =>
      toMemory(ev
        .withWatermark("ts", "2 days")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("dn"),
          sum(col("value").cast("decimal(24,10)")).as("dsum"))
        .groupBy(window(col("w"), "7 days").as("wk"), col("event_type"))
        .agg(sum(col("dn")).as("n"),
          round(sum(col("dsum")).cast("double") / sum(col("dn")), 6)
            .as("avg_value"))
        .select(col("wk.start").as("week_start"), col("event_type"),
          col("n"), col("avg_value")),
        "t18_mem", "append"))(
      _ => s.table("t18_mem").filter(col("event_type") =!= "sentinel"))

  /** T14: retransmit-tolerant streaming dedup via
    * `dropDuplicatesWithinWatermark` — the Spark-4 dedup contract for
    * duplicates whose EVENT TIMES differ (a retransmit carries a fresh
    * timestamp, so plain dropDuplicates-with-watermark gives no
    * guarantee about which state-eviction horizon applies; the
    * WithinWatermark form guarantees dedup for duplicates arriving
    * within the watermark delay and evicts each key once the watermark
    * passes its first-seen time + delay — bounded state with explicit
    * semantics). The source carries both halves plus the rig's staged
    * retransmits. The downstream aggregate is deliberately
    * event-time-free (per-type count + exact decimal sum), so the
    * result is invariant to WHICH copy survived — every event counts
    * once iff the dedup worked, which is exactly what the oracle
    * checks against the retransmit-free events table. */
  def runDedupWithinWatermark(s: SparkSession, d: String): Replay =
    replay(s, d, "t14", stage = (rig, src) => {
        deliverHalves(rig, src); deliver(rig.retransmits, src)
      })((ev, _) =>
      toMemory(ev
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(24,10)")).cast("double") /
            count(lit(1)), 6).as("avg_value")),
        "t14_mem", "complete"))(
      _ => s.table("t14_mem"))

  /** T1: an ACTUAL Structured Streaming execution — events dropped as
    * JSON, consumed by readStream, aggregated with event-time windows,
    * delivered through a checkpointed memory sink. The returned
    * DataFrame is the sink table, so the DuckDB oracle verifies a real
    * streaming run end-to-end. */
  def runStreamingAgg(s: SparkSession, d: String): Replay =
    replay(s, d, "t1")((ev, _) =>
      toMemory(windowAgg(ev), "t1_mem", "complete"))(
      _ => s.table("t1_mem"))

  /** T24: the Spark-4 STATE DATA SOURCE — reading a streaming
    * checkpoint's state store as a plain DataFrame
    * (`spark.read.format("statestore")`), the first-class operational
    * surface for state inspection/repair/migration (replacing ad-hoc
    * checkpoint-file forensics like T12's provider proof). The rig
    * runs the T1 windowed agg to completion on its own checkpoint,
    * then reads the state back: key = (window, event_type), value =
    * the AGGREGATION BUFFER (count, decimal sum, isEmpty) — the
    * reconstruction sum/count must reproduce the query's own output,
    * and the oracle checks it against the batch aggregate, so the
    * round-trip proves the store holds exactly the aggregate's state.
    */
  def runStateRead(s: SparkSession, d: String): Replay =
    replay(s, d, "t24")((ev, _) =>
      toMemory(windowAgg(ev), "t24_mem", "complete"))(dir =>
      s.read.format("statestore").load(s"$dir/ckpt")
        .select(col("key.window.start").as("win_start"),
          col("key.event_type").as("event_type"),
          col("value.count").as("n"),
          round(col("value.sum").cast("double") / col("value.count"), 6)
            .as("avg_value")))

  /** T25: the state source's CHANGE FEED — the CDC view of the state
    * store (`readChangeFeed`): every (batch_id, change_type, key,
    * value) the store wrote across the run's micro-batches, the
    * surface for auditing how state evolved (T24 reads the final
    * snapshot; this reads the history). The rig forces a MULTI-batch
    * run (maxFilesPerTrigger=1 over the staged files) so the feed has
    * real per-batch evolution; the query then LOG-COMPACTS it —
    * latest change per key wins — and the reconstruction must equal
    * the batch aggregate (oracle), proving the feed carries the
    * complete update history. */
  def runStateChangeFeed(s: SparkSession, d: String): Replay =
    replay(s, d, "t25", maxFilesPerTrigger = Some(1))((ev, _) =>
      toMemory(windowAgg(ev), "t25_mem", "complete"))({ dir =>
      val feed = s.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .load(s"$dir/ckpt")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("batch_id").desc)
      feed
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("change_type") =!= "delete")
        .select(col("key.window.start").as("win_start"),
          col("key.event_type").as("event_type"),
          col("value.count").as("n"),
          round(col("value.sum").cast("double") / col("value.count"), 6)
            .as("avg_value"))
    })

  /** T2: checkpoint/offset resume, proven by the result. First run
    * consumes the chronological first half and terminates (simulated
    * shutdown). The second half is then dropped into the source dir
    * and a NEW query starts on the SAME checkpoint: it restores the
    * aggregation state + file offsets and processes only the new
    * files. The final table equals the full-data aggregate ONLY if
    * recovery worked — which is exactly what the oracle checks. */
  def runCheckpointResume(s: SparkSession, d: String): Replay = {
    val rig = stageRig(s, d)
    val dir = graft.Fs.scratch("t2"); val src = s"$dir/src"
    def run() = drain(s, s"$dir/ckpt")(
      toMemory(windowAgg(readJsonStream(s, src)), "t2_mem", "complete"))
    deliver(rig.half1, src)
    val first = run()                     // first half, then stop
    deliver(rig.half2, src)
    val resumed = run()                   // resume from checkpoint
    Replay(s.table("t2_mem"), first ++ resumed, dir)
  }

  /** T9: stream-static enrichment join — the canonical "enrich the
    * stream with a dimension table" shape (the reference enriches
    * ticker events with per-symbol config the same way, batch-side:
    * `scripts/06_strategy_signals.py`). The static side is a batch
    * DataFrame joined INSIDE the streaming query: Spark re-plans it
    * per micro-batch, here as a broadcast hash join, so the stream
    * never shuffles — the 100 TB shape for a fact stream against a
    * dimension that fits in executor memory. Stateless (no watermark
    * needed): each event joins alone, append mode. */
  def runStreamStaticJoin(s: SparkSession, d: String): Replay = {
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    replay(s, d, "t9")((ev, _) =>
      toMemory(ev
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"),
          col("value")),
        "t9_mem", "append"))(
      _ => s.table("t9_mem"))
  }

  /** T10: stream-stream interval join — click→purchase attribution
    * within a 4-hour window, the flagship Structured Streaming
    * capability a batch engine has no analogue for. Both sides carry
    * watermarks and the join condition bounds purchase_ts to
    * [click_ts, click_ts+4h], which is what lets Spark EXPIRE buffered
    * rows: state per side is bounded by watermark + window width, the
    * production requirement for an unbounded stream (an unbounded
    * stream-stream join would buffer both streams forever). Inner
    * join → matches emit as they form; append mode. */
  def runStreamStreamJoin(s: SparkSession, d: String): Replay =
    replay(s, d, "t10")({ (ev, _) =>
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 day")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 day")
      toMemory(clicks.join(purchases,
          col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 4 HOURS"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts"), col("purchase_ts")),
        "t10_mem", "append")
    })(_ => s.table("t10_mem"))

  /** T10b: LEFT OUTER stream-stream join — the harder semantics on
    * top of T10's inner machinery: a click with NO purchase in its
    * 4-hour window must STILL emit (with NULL purchase columns), but
    * only once the watermark proves no matching purchase can arrive —
    * i.e. unmatched rows are *watermark-triggered*, not data-
    * triggered. Two rig consequences:
    *  - the watermark is applied on the source BEFORE the type
    *    filters, so both join inputs share it (each branch's renamed
    *    ts column carries the watermark metadata);
    *  - a bounded replay ends exactly where the data ends, so the
    *    watermark would never pass the LAST clicks' windows and their
    *    NULL rows would stay stuck in the state store forever — and
    *    `Trigger.AvailableNow` terminates after the last DATA batch
    *    without a trailing no-data batch, so a watermark advanced by
    *    the final batch is never acted on (measured: the last ~4 h of
    *    unmatched clicks stayed stuck with a single sentinel). The
    *    rig therefore appends TWO sentinel events (30 and 60 days
    *    past the corpus horizon) and forces one file per micro-batch
    *    ([[sentinelLadder]]): the first sentinel's batch advances the
    *    watermark past every click's window, and the second
    *    sentinel's batch EXECUTES under that watermark, flushing the
    *    expired state. Two non-obvious constraints shape the
    *    sentinels themselves:
    *    (1) Catalyst pushes each branch's type filter BELOW the
    *    watermark operator, so a row only feeds the watermark stats
    *    if it SURVIVES the branch filter — and (2) the global
    *    watermark is the MIN across both branches' watermark nodes
    *    (multipleWatermarkPolicy=min), so advancing one side is not
    *    enough (both measured: a filtered-out sentinel left the
    *    watermark untouched; a one-sided one would cap it at the
    *    other side's data). Each sentinel file therefore carries one
    *    CLICK and one PURCHASE, with negative user ids no real event
    *    shares (and distinct from each other, so they can't match
    *    across sides); the output filter strips user_id < 0, so no
    *    sentinel can ever surface even if a future engine version
    *    adds a final flush batch. On an unbounded production stream
    *    none of this is needed — new traffic advances the watermark
    *    and every batch flushes expired state.
    * Result equals the batch LEFT JOIN with the same window condition
    * — which is what the oracle checks. */
  def runStreamStreamOuterJoin(s: SparkSession, d: String): Replay =
    replay(s, d, "t10o", maxFilesPerTrigger = Some(1),
        stage = sentinelLadder("click", "purchase"))({ (src, _) =>
      val ev = src.withWatermark("ts", "1 day")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      toMemory(clicks.join(purchases,
          col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 4 HOURS"),
          "leftOuter")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts"), col("purchase_ts")),
        "t10o_mem", "append")
    })(
      // sentinel guard applied on the SINK, not inside the streaming
      // query: an in-stream `user_id >= 0` would be pushed below the
      // left join into both scans (measured — left-side predicates
      // propagate through the equi-key to the right side too),
      // dropping the sentinels before the watermark operator and
      // re-creating the stuck-tail bug the sentinels exist to fix.
      _ => s.table("t10o_mem").filter(col("user_id") >= 0))

  /** T20: SCD2 (slowly-changing-dimension type 2) maintenance in
    * foreachBatch — the lakehouse dimension-history op: each user's
    * event_type is the tracked attribute; every CHANGE opens a
    * version row (valid_from = change ts) and closes the previous
    * one (valid_to = next valid_from; NULL = current). Per batch the
    * merge (1) detects in-batch change points with a per-user window,
    * (2) compares each user's FIRST batch row against the history's
    * current attribute (the cross-batch boundary), (3) re-derives
    * every valid_to as lead(valid_from) over the union — closures
    * are a pure function of the change set, so replaying a batch
    * rewrites the same history (self-healing overwrite, T19's
    * argument). Version identity = the opening event_id, which also
    * tiebreaks simultaneous changes. The rig's time-ordered halves
    * replay as 2+ real micro-batches (maxFilesPerTrigger = 1), and
    * the final history must equal the one-shot batch derivation —
    * exactly what the oracle computes with two windows. StreamingSpec
    * asserts ≥ 2 data batches in the returned progress, proving the
    * cross-batch boundary merge actually executed (a single-batch run
    * would make the history trivially right). */
  def runScd2Maintain(s: SparkSession, d: String): Replay = {
    // SCD2's contract is IN-ORDER arrival per key (a CDC feed is
    // ordered within a partition; Kafka guarantees it per partition).
    // The generic deliver() copies part files under their random
    // UUID names with one mtime — the file source may then replay
    // half2 before half1 and the boundary comparison sees attributes
    // from the future. Deliver with ordered names AND strictly
    // increasing mtimes so the maxFilesPerTrigger=1 replay is the
    // time-ordered sequence the operator is defined over.
    def deliverOrdered(rig: Rig, src: String): Unit = {
      def copy(staged: String, prefix: String, mtime: Long): Unit = {
        val dst = new java.io.File(src); dst.mkdirs()
        Option(new java.io.File(staged).listFiles())
          .getOrElse(Array.empty)
          .filter(_.getName.endsWith(".json")).sortBy(_.getName)
          .zipWithIndex.foreach { case (f, i) =>
            val t = new java.io.File(dst, f"$prefix-$i%03d.json")
            java.nio.file.Files.copy(f.toPath, t.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            t.setLastModified(mtime)
            ()
          }
      }
      val now = System.currentTimeMillis()
      copy(rig.half1, "batch-000", now - 120000L)
      copy(rig.half2, "batch-001", now - 60000L)
    }
    val histSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", StringType),
      org.apache.spark.sql.types.StructField("valid_from",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("valid_to",
        org.apache.spark.sql.types.TimestampType)))
    replay(s, d, "t20", maxFilesPerTrigger = Some(1),
        stage = deliverOrdered)({ (ev, dir) =>
      val hist = s"$dir/hist"
      ev.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val ss = batch.sparkSession
          val wU = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          val cur =
            if (new java.io.File(hist).exists()) ss.read.parquet(hist)
            else ss.createDataFrame(
              ss.sparkContext.emptyRDD[org.apache.spark.sql.Row], histSchema)
          val current = cur.filter(col("valid_to").isNull)
            .select(col("user_id"), col("event_type").as("cur_attr"))
          val changes = batch
            .select(col("user_id"), col("event_id"), col("event_type"),
              col("ts"))
            .withColumn("prev", lag(col("event_type"), 1).over(wU))
            .join(current, Seq("user_id"), "left")
            .filter(
              (col("prev").isNull &&
                (col("cur_attr").isNull ||
                 col("cur_attr") =!= col("event_type"))) ||
              (col("prev").isNotNull && col("prev") =!= col("event_type")))
            .select(col("user_id"), col("event_id"), col("event_type"),
              col("ts").as("valid_from"))
          val wV = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
          val merged = cur
            .select(col("user_id"), col("event_id"), col("event_type"),
              col("valid_from"))
            .unionByName(changes)
            .withColumn("valid_to", lead(col("valid_from"), 1).over(wV))
            // materialize BEFORE overwriting the parquet it reads from
            .localCheckpoint(true)
          merged.write.mode("overwrite").parquet(hist)
          ()
        }
    })(dir =>
      s.read.parquet(s"$dir/hist")
        .withColumn("is_current", col("valid_to").isNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current")))
  }

  /** T11: foreachBatch upsert sink — the bridge pattern for sinks with
    * no native streaming support (JDBC, key-value stores, lakehouse
    * MERGE): an update-mode aggregation hands each micro-batch's
    * CHANGED per-key rows to arbitrary batch code. Here each batch
    * appends its rows stamped with the batch id; a batch REPLAYED
    * after a failure between the append and the checkpoint commit
    * appends the same (user_id, batch_id) rows AGAIN — replay-safe
    * not because the log is idempotent (it is not) but because a
    * replayed batch recomputes byte-identical rows and the read
    * side's latest-wins row_number keeps exactly one row per key
    * either way; the final
    * serving table therefore equals the plain batch GROUP BY, which is
    * what the oracle checks. Aggregates are order-insensitive
    * (count / max), so batch slicing can't change the final values. */
  def runForeachBatchUpsert(s: SparkSession, d: String): Replay =
    replay(s, d, "t11")((ev, dir) =>
      ev.withWatermark("ts", "2 days")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
        .writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(s"$dir/servelog")
        })({ dir =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("batch_id").desc)
      s.read.parquet(s"$dir/servelog")
        // a replayed batch (failure between append and checkpoint
        // commit) duplicates (user_id, batch_id) rows with identical
        // values; row_number picks ONE row per user regardless, so no
        // separate replay-collapse pass (and its shuffle) is needed
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_events"), col("max_value"))
    })

  /** T12: the same stateful pipeline under the ROCKSDB state store —
    * the 100 TB state backend. The default HDFSBackedStateStoreProvider
    * holds every partition's state map in executor HEAP, so state
    * capacity is bounded by JVM memory and GC; RocksDB keeps working
    * state on local SSD with changelog/snapshot files in the
    * checkpoint, which is what makes billions of keys per executor
    * (big watermark windows, wide dedup sets, stream-stream buffers)
    * operable. The provider is set for this run only ([[RocksDb]]);
    * StreamingSpec proves it engaged from the returned run dir's
    * `ckpt/state` files — the part the result compare can't see.
    * Result must equal the plain batch aggregate — the oracle's check,
    * same as T1 (the corpus has unique event_ids, so the dedup stage's
    * state machinery runs for real but must not change the answer). */
  def runRocksDbStateAgg(s: SparkSession, d: String): Replay =
    replay(s, d, "t12", confs = Seq(RocksDb))((ev, _) =>
      toMemory(dedupWindowAgg(ev), "t12_mem", "complete"))(
      _ => s.table("t12_mem"))

  // ---- T15: transformWithState (the Spark-4 arbitrary-state API) --------

  /** T8's fold re-expressed on `transformWithState`, the successor
    * API to flatMapGroupsWithState: state decomposes into NAMED typed
    * primitives (ValueState / ListState / MapState, each with its own
    * TTL) instead of one opaque blob, with user timers and state
    * schema evolution — the composability an evolving 100 TB pipeline
    * needs (add a second state variable without migrating the first).
    * Only implemented on the RocksDB state-store provider. Same
    * order-insensitive tally, same oracle as T8 — what changes is the
    * engine surface, which is exactly what the equality proves. */
  private class TallyProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, KeyTally] {
    @transient private var tally:
      org.apache.spark.sql.streaming.ValueState[KeyTally] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      tally = getHandle.getValueState[KeyTally]("tally",
        org.apache.spark.sql.Encoders.product[KeyTally],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[KeyTally] = {
      var t =
        if (tally.exists()) tally.get()
        else KeyTally(key, 0L, Double.NegativeInfinity,
          Double.PositiveInfinity, Long.MinValue)
      rows.foreach { e =>
        t = KeyTally(key, t.n_events + 1,
          math.max(t.max_value, e.value), math.min(t.min_value, e.value),
          math.max(t.last_event_id, e.event_id))
      }
      tally.update(t)
      Iterator.single(t)
    }
  }

  /** T15 as a real checkpointed run (RocksDB provider set for the run,
    * restored after — the API throws on the default provider), final
    * tallies read by [[finalTallies]] (T8's protocol). */
  def runTransformWithState(s: SparkSession, d: String): Replay = {
    import s.implicits._
    replay(s, d, "t15", confs = Seq(RocksDb))((ev, _) =>
      toMemory(ev.as[Event]
        .groupByKey(_.user_id)
        .transformWithState(new TallyProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF(),
        "t15_mem", "update"))(
      _ => finalTallies(s.table("t15_mem")))
  }

  /** T19: per-batch trending leaderboard — the "top types right now"
    * panel: a complete-mode windowed count feeding foreachBatch,
    * which ranks the CURRENT totals and overwrites a small
    * leaderboard table each micro-batch (T11 upserts rows; this
    * re-derives a ranking — the other canonical foreachBatch shape).
    * The rank runs per batch over the aggregated (window, type) frame
    * — O(windows×types) rows, never the stream — and the final
    * leaderboard equals the batch top-3-per-day, which is exactly
    * what the oracle checks. Complete mode is the right output mode
    * here BECAUSE the sink is a full overwrite: replay after a crash
    * rewrites the same table (self-healing, no dedup log needed). */
  def runTrendingTopK(s: SparkSession, d: String): Replay =
    replay(s, d, "t19")((ev, dir) =>
      ev.groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("win_start"), col("event_type"), col("n"))
        .writeStream
        .outputMode("complete")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val wr = org.apache.spark.sql.expressions.Window
            .partitionBy("win_start")
            .orderBy(col("n").desc, col("event_type"))
          batch.withColumn("rnk", row_number().over(wr))
            .filter(col("rnk") <= 3)
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$dir/out")
          ()
        })(
      dir => s.read.parquet(s"$dir/out"))

  /** T26: streaming drift monitor — A77's Page–Hinkley detector run
    * AS A STREAM: a complete-mode daily aggregation (pinned decimal
    * sums + counts, so the per-day mean is the bit-identical batch
    * value) feeds foreachBatch, which re-derives the FULL detector
    * trajectory over the aggregated O(types × days) frame and
    * overwrites the monitor table each micro-batch — the T19
    * leaderboard shape applied to drift detection. Re-deriving from
    * totals (rather than carrying m/M in keyed state) is the right
    * streaming form for this detector: the detector's input is the
    * DAILY panel, which complete mode already maintains exactly, the
    * per-batch recompute is bounded by the panel (never the stream),
    * and crash replay rewrites the same table (self-healing, the T19
    * argument). The final table must therefore EQUAL the batch A77
    * — which is exactly what the oracle checks, making the streaming
    * path fully hash-verified. */
  def runDriftMonitor(s: SparkSession, d: String): Replay =
    replay(s, d, "t26")((ev, dir) =>
      ev.groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(sum(col("value").cast("decimal(24,10)")).as("vsum"),
          count(lit(1)).as("vn"))
        .select(col("w.start").as("day"), col("event_type"),
          col("vsum"), col("vn"))
        .writeStream
        .outputMode("complete")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val wd = org.apache.spark.sql.expressions.Window
            .partitionBy("event_type").orderBy("day")
          val wc = wd.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
          batch
            .withColumn("v", col("vsum").cast("double") / col("vn"))
            .withColumn("rn", row_number().over(wd).cast("long"))
            .withColumn("runsum",
              sum(col("v").cast("decimal(30,12)")).over(wc).cast("double"))
            .withColumn("term",
              col("v") - col("runsum") / col("rn") - lit(0.05d))
            .withColumn("m",
              sum(col("term").cast("decimal(30,12)")).over(wc)
                .cast("double"))
            .withColumn("m_min", min(col("m")).over(wc))
            .withColumn("ph", col("m") - col("m_min"))
            .select(col("event_type"), col("day"), col("v"), col("ph"),
              (col("ph") > lit(5.0d)).as("alarm"))
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$dir/out")
          ()
        })(
      dir => s.read.parquet(s"$dir/out"))

  /** T21: sketch-in-state streaming distinct — the bounded-memory
    * streaming answer to COUNT(DISTINCT): exact distinct in a stream
    * needs an unbounded per-window value set in the state store;
    * `approx_count_distinct` keeps one FIXED-SIZE HLL sketch per
    * (window, type) key instead, merged across micro-batches by the
    * state store (rsd 2%, same contract as batch A16). The two rig
    * halves replay as separate micro-batches (maxFilesPerTrigger=1),
    * so the cross-batch sketch merge is real — StreamingSpec asserts
    * ≥2 data batches ran AND every estimate lands within 5% of the
    * exact batch distinct. At 100 TB: state per window is O(sketch),
    * not O(distinct users) — the only viable shape. */
  def runStreamingApproxDistinct(s: SparkSession, d: String): Replay =
    replay(s, d, "t21", maxFilesPerTrigger = Some(1))((ev, _) =>
      toMemory(ev
        .withWatermark("ts", "2 days")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("est_users"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("est_users")),
        "t21_mem", "complete"))(
      _ => s.table("t21_mem"))

  /** T22: streaming progress audit — the OBSERVABILITY surface every
    * production stream is operated through: after a real checkpointed
    * run, the engine's own per-micro-batch instrumentation
    * (StreamingQueryProgress) is surfaced as a relational table of
    * (batch_id, input_rows, state_rows) — the numbers an on-call
    * dashboard alerts on (sudden input drop, state-store growth).
    * Rows-only (instrumentation has no DuckDB twin); StreamingSpec
    * anchors the audit against ground truth: batch ids consecutive,
    * ≥2 data batches (the file-capped trigger slices), and
    * Σ input_rows == the exact corpus row count — the engine's
    * telemetry must account for every row it claims to have read. */
  def runProgressAudit(s: SparkSession, d: String): Replay = {
    import s.implicits._
    val r = replay(s, d, "t22", maxFilesPerTrigger = Some(1))((ev, _) =>
      toMemory(windowAgg(ev), "t22_mem", "complete"))(
      _ => s.table("t22_mem"))
    r.copy(out = r.progress.map { p =>
      val stateRows = Option(p.stateOperators)
        .map(_.map(_.numRowsTotal).sum).getOrElse(0L)
      (p.batchId, p.numInputRows, stateRows)
    }.toDF("batch_id", "input_rows", "state_rows")
      .orderBy("batch_id"))
  }

  /** T23: STATELESS streaming ingest dedup via a Bloom probe — the
    * constant-memory alternative to T3's state-store dropDuplicates:
    * per-key dedup state grows with distinct keys forever (watermarks
    * only bound it when keys expire), while a Bloom ledger of the
    * already-ingested set is a fixed ~200 KB binary broadcast into a
    * stateless filter — O(1) memory at any key cardinality, no false
    * negatives (nothing already ingested ever re-enters), and the
    * small false-positive rate drops only NEW items (production
    * routes bloom-positives to an exact re-check; the rate is the
    * spec's assertion). Here the first rig half is the ledger, both
    * halves replay as the stream, and only (most of) the second half
    * survives. The query is append-mode with NO watermark and NO
    * state store — the plan difference IS the point. */
  def runBloomIngestFilter(s: SparkSession, d: String): Replay = {
    // ledger: Bloom over the first half's event ids (batch-side build,
    // amortized across every future micro-batch in production)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bfAgg = new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col("event_id"))),
      Literal(100000L), Literal(1600000L), 0, 0).toAggregateExpression()
    val bytes = s.read.schema(eventSchema).option("timestampFormat", TsFormat)
      .json(stageRig(s, d).half1)
      .select(ColumnBridge.column(bfAgg).as("bf"))
      .head().getAs[Array[Byte]](0)
    replay(s, d, "t23")((ev, _) =>
      toMemory(ev
        .filter(!ColumnBridge.column(BloomFilterMightContain(
          ColumnBridge.expression(lit(bytes)),
          ColumnBridge.expression(xxhash64(col("event_id"))))))
        .select(col("event_id"), col("user_id"), col("event_type")),
        "t23_mem", "append"))(
      _ => s.table("t23_mem"))
  }

  /** T4/S11: keyed publish through a REAL streaming query — the
    * producer's keyed emit (`ingestion/producer.py:173-182`) as
    * readStream → key/value payload → file sink (append mode,
    * checkpointed). On a cluster the sink line changes to
    * `.format("kafka")` with the same key/value contract; no broker
    * ships in this container, so the payload lands as JSON files and
    * is read back for the oracle compare. */
  def runKeyedPublish(s: SparkSession, d: String): Replay =
    replay(s, d, "t4")((ev, dir) =>
      kafkaPayload(ev).writeStream.format("json")
        .option("path", s"$dir/out")
        .outputMode("append"))(dir =>
      s.read.schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("key", StringType),
          org.apache.spark.sql.types.StructField("value", StringType))))
        .json(s"$dir/out"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S11 payload formatting as a batch query (oracle-checked JSON).
    "s11_kafka_payload" -> ((s, d) =>
      kafkaPayload(Tables.events(s, d)).orderBy("key")),

    // T3 batch-equivalent of the streaming dedup+window pipeline
    // (deterministic keep-first; streaming form runs in StreamingSpec).
    "t3_stream_dedup_agg" -> ((s, d) =>
      dedupWindowAggBatch(Tables.events(s, d))
        .orderBy("win_start", "event_type")),

    // T1: real streaming execution (readStream → windowed agg →
    // checkpointed memory sink, Trigger.AvailableNow).
    "t1_streaming_window_agg" -> ((s, d) =>
      runStreamingAgg(s, d).out.orderBy("win_start", "event_type")),

    // T2: checkpoint resume across two streaming runs — result is the
    // full-data aggregate only if offsets + state recovered.
    "t2_checkpoint_resume" -> ((s, d) =>
      runCheckpointResume(s, d).out.orderBy("win_start", "event_type")),

    // T24: state-store read-back (Spark 4 state data source) — the
    // checkpoint's aggregation buffers reconstructed to the batch
    // aggregate (oracle = the same windowed counts from events).
    "t24_state_read" -> ((s, d) =>
      runStateRead(s, d).out.orderBy("win_start", "event_type")),

    // T25: the state CHANGE FEED log-compacted (latest change per key
    // wins) back to the batch aggregate — proves the CDC view carries
    // the complete multi-batch update history (oracle).
    "t25_state_changefeed" -> ((s, d) =>
      runStateChangeFeed(s, d).out.orderBy("win_start", "event_type")),

    // T4: keyed publish executed as a real writeStream (file sink
    // standing in for the Kafka sink; same key/value contract).
    "t4_keyed_publish" -> ((s, d) =>
      runKeyedPublish(s, d).out.orderBy("key")),

    // T21: streaming approx distinct — HLL sketch per (window, type)
    // in the state store, merged across micro-batches; rows-only
    // (sketch estimate), StreamingSpec anchors ≤5% of batch exact.
    "t21_stream_approx_distinct" -> ((s, d) =>
      runStreamingApproxDistinct(s, d).out.orderBy("win_start", "event_type")),

    // T22: per-batch progress telemetry from a real run — rows-only,
    // StreamingSpec anchors Σ input_rows == exact corpus count.
    "t22_progress_audit" -> ((s, d) =>
      runProgressAudit(s, d).out),

    // T23: stateless Bloom-probe ingest dedup — rows-only;
    // StreamingSpec anchors exactness (no ledger row survives) and
    // the FP bound (≥99% of genuinely-new rows survive).
    "t23_bloom_ingest" -> ((s, d) =>
      runBloomIngestFilter(s, d).out.orderBy("event_id")),

    // T26: the streaming Page–Hinkley drift monitor — final table
    // equals batch A77 exactly (fully hash-checked; see
    // runDriftMonitor's doc for why re-derive-from-totals is the
    // right streaming form here).
    "t26_drift_monitor" -> ((s, d) =>
      runDriftMonitor(s, d).out.orderBy("event_type", "day")),

    // T19: per-batch trending leaderboard (complete mode →
    // foreachBatch rank + overwrite); final table equals the batch
    // top-3-per-day (oracle).
    "t19_trending_topk" -> ((s, d) =>
      runTrendingTopK(s, d).out.orderBy("win_start", "rnk")),

    // T20: SCD2 dimension-history maintenance in foreachBatch; the
    // incrementally-merged history equals the one-shot batch
    // derivation (oracle).
    "t20_scd2_history" -> ((s, d) =>
      runScd2Maintain(s, d).out
        .orderBy("user_id", "valid_from", "event_id")),

    // T8: custom keyed state (flatMapGroupsWithState) executed as a
    // real streaming run; final per-key tallies equal the plain
    // GROUP BY — which is exactly what the oracle checks.
    "t8_stateful_tally" -> ((s, d) =>
      runStatefulTally(s, d).out.orderBy("user_id")),

    // T9: stream-static enrichment executed as a real streaming run;
    // result equals the plain batch join — the oracle's check.
    "t9_stream_static_join" -> ((s, d) =>
      runStreamStaticJoin(s, d).out.orderBy("event_id")),

    // T10: watermarked stream-stream interval join executed for real;
    // the emitted matches equal the batch interval join (oracle).
    "t10_stream_stream_join" -> ((s, d) =>
      runStreamStreamJoin(s, d).out.orderBy("click_id", "purchase_id")),

    // T10b: LEFT OUTER stream-stream join — unmatched clicks emit
    // with NULL purchase only after watermark expiry (sentinel-driven
    // on a bounded replay); equals the batch left join (oracle).
    "t10_outer_join" -> ((s, d) =>
      runStreamStreamOuterJoin(s, d).out
        .orderBy("click_id", "purchase_id")),

    // T12: the stateful dedup+agg pipeline on the RocksDB state store
    // (the scale state backend); equals the plain aggregate (oracle).
    "t12_rocksdb_state" -> ((s, d) =>
      runRocksDbStateAgg(s, d).out.orderBy("win_start", "event_type")),

    // T13: bounded backfill — AvailableNow + maxFilesPerTrigger=1
    // replays the backlog as capped micro-batches; final aggregate
    // equals the one-shot batch result (oracle) regardless of slicing.
    "t13_bounded_backfill" -> ((s, d) =>
      runBoundedBackfill(s, d).out.orderBy("win_start", "event_type")),

    // T15: transformWithState (Spark-4 arbitrary-state API) executed
    // for real on RocksDB; final per-key tallies equal the plain
    // GROUP BY — the oracle's check, same contract as T8.
    "t15_transform_with_state" -> ((s, d) =>
      runTransformWithState(s, d).out.orderBy("user_id")),

    // T14: dropDuplicatesWithinWatermark on a planted-retransmit rig —
    // duplicates with DIFFERENT event times deduped within the
    // watermark delay; per-type totals equal the retransmit-free
    // batch aggregate (oracle) iff every event counted exactly once.
    "t14_dedup_within_wm" -> ((s, d) =>
      runDedupWithinWatermark(s, d).out.orderBy("event_type")),

    // T17: watermark late-data drop — planted 60-day-late rows (fresh
    // negative ids) must be discarded by the watermarked dedup; the
    // on-time stream equals the original events exactly (oracle),
    // drop count spec-pinned to the plant.
    "t17_late_data_drop" -> ((s, d) =>
      runLateDataDrop(s, d).out.orderBy("event_id")),

    // T18: chained daily→weekly window aggregation in one streaming
    // query (two stateful operators, append mode, sentinel-flushed);
    // equals the batch weekly rollup (oracle).
    "t18_chained_windows" -> ((s, d) =>
      runChainedWindows(s, d).out.orderBy("week_start", "event_type")),

    // T16: streaming session windows — sessions spanning the two
    // replay batches merge in the state store; final sessions equal
    // the batch gap/island reconstruction (oracle, same as T5's).
    "t16_session_stream" -> ((s, d) =>
      runSessionStream(s, d).out.orderBy("user_id", "sess_start")),

    // T11: foreachBatch upsert sink — update-mode agg through a
    // batch-id-stamped append log (the log itself is NOT idempotent;
    // replay-safety comes from latest-batch-wins compaction — see
    // runForeachBatchUpsert's doc); final serving table equals the
    // plain GROUP BY (oracle).
    "t11_foreachbatch_upsert" -> ((s, d) =>
      runForeachBatchUpsert(s, d).out.orderBy("user_id"))
  )

  /** The batch daily (event_type) count and pinned mean: the oracle of
    * every streamed windowed aggregate (T1/T2/T12/T13) and of the
    * state read-backs (T24/T25). */
  private val WindowAggSql =
    """SELECT date_trunc('day', ts) AS win_start, event_type,
                count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""

  /** Per-user tallies: the oracle of both stateful operators (T8's
    * flatMapGroupsWithState, T15's transformWithState). */
  private val TallySql =
    """SELECT user_id, count(*) AS n_events, max(value) AS max_value,
                min(value) AS min_value, max(event_id) AS last_event_id
         FROM events GROUP BY 1 ORDER BY user_id"""

  /** The keyed JSON payload of each event: S11's batch encode and T4's
    * streamed publish. */
  private val KeyedPayloadSql =
    """SELECT CAST(event_id AS VARCHAR) AS key,
                to_json(struct_pack(event_id := event_id,
                                    event_type := event_type,
                                    user_id := user_id,
                                    value := value))::VARCHAR AS value
         FROM events ORDER BY key"""

  val oracles: Map[String, String] = Map(
    // T26: the streamed monitor table must equal batch A77 — a77's
    // oracle itself (`day` is the daily window start = date_trunc day)
    "t26_drift_monitor" -> graft.operators.Stats.oracles("a77_page_hinkley"),
    // same island reconstruction as T5's batch session oracle — the
    // streamed, state-merged sessions must land on the identical set.
    "t16_session_stream" ->
      graft.operators.IntervalJoins.oracles("t5_session_window"),
    "s11_kafka_payload" -> KeyedPayloadSql,
    "t3_stream_dedup_agg" ->
      """WITH dedup AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY event_id
                                          ORDER BY ts, user_id, value) AS rn
             FROM events) WHERE rn = 1)
         SELECT date_trunc('day', ts) AS win_start, event_type,
                count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value
         FROM dedup GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "t20_scd2_history" ->
      """WITH ordered AS (
           SELECT user_id, event_id, event_type, ts,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev
           FROM events),
         changes AS (
           SELECT user_id, event_id, event_type, ts AS valid_from
           FROM ordered WHERE prev IS NULL OR prev <> event_type),
         v AS (
           SELECT user_id, event_id, event_type, valid_from,
                  lead(valid_from) OVER (PARTITION BY user_id
                    ORDER BY valid_from, event_id) AS valid_to
           FROM changes)
         SELECT user_id, event_id, event_type, valid_from, valid_to,
                valid_to IS NULL AS is_current
         FROM v ORDER BY user_id, valid_from, event_id""",
    "t19_trending_topk" ->
      """WITH counts AS (
           SELECT date_trunc('day', ts) AS win_start, event_type,
                  count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT win_start, event_type, n,
                CAST(rnk AS INT) AS rnk
         FROM (SELECT win_start, event_type, n,
                      row_number() OVER (PARTITION BY win_start
                        ORDER BY n DESC, event_type) AS rnk
               FROM counts)
         WHERE rnk <= 3 ORDER BY win_start, rnk""",
    "t1_streaming_window_agg" -> WindowAggSql,
    // the state store must hold exactly the aggregate's buffers: the
    // read-back reconstruction equals the batch windowed aggregate
    "t24_state_read" -> WindowAggSql,
    // the change feed's latest-per-key compaction must land on the
    // same batch aggregate — the CDC history is complete
    "t25_state_changefeed" -> WindowAggSql,
    // epoch-aligned 7-day buckets = Spark's window() origin;
    // 604800000000 µs = 7 days
    "t18_chained_windows" ->
      """SELECT make_timestamp((epoch_us(ts) // 604800000000)
                               * 604800000000) AS week_start,
                event_type, count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY week_start, event_type""",
    // equals the ORIGINAL events exactly — the late plant (fresh
    // negative ids) must leave no trace or rows mismatch
    "t17_late_data_drop" ->
      graft.operators.SourceSinks.oracles("s3_partitioned_write"),
    "t12_rocksdb_state" -> WindowAggSql,
    "t13_bounded_backfill" -> WindowAggSql,
    "t2_checkpoint_resume" -> WindowAggSql,
    "t4_keyed_publish" -> KeyedPayloadSql,
    "t15_transform_with_state" -> TallySql,
    "t14_dedup_within_wm" ->
      """SELECT event_type, count(*) AS n,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE)
                      / count(*), 6) AS avg_value
         FROM events GROUP BY 1 ORDER BY event_type""",
    "t8_stateful_tally" -> TallySql,
    "t9_stream_static_join" ->
      graft.operators.Relational.oracles("j6_salted_join"),
    "t11_foreachbatch_upsert" ->
      """SELECT user_id, count(*) AS n_events, max(value) AS max_value
         FROM events GROUP BY 1 ORDER BY user_id""",
    "t10_outer_join" ->
      """SELECT c.user_id, c.event_id AS click_id,
                p.event_id AS purchase_id,
                c.ts AS click_ts, p.ts AS purchase_ts
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOURS
         ORDER BY click_id, purchase_id""",
    "t10_stream_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id,
                p.event_id AS purchase_id,
                c.ts AS click_ts, p.ts AS purchase_ts
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOURS
         ORDER BY click_id, purchase_id"""
  )
}
