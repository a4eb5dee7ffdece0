package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Fs, Tables}

/** Sources & sinks beyond the base parquet scan: parquet write (S2),
  * partitioned write (S3), CSV write+scan (S4/S5), JSON write+read
  * (S6/S7), and the chart-data sink queries (S14).
  *
  * Reference: per-stage parquet persistence `scripts/02_fetch_news.py:131`,
  * per-ticker partitioned write `:139-144`, CSV trade/equity logs
  * `scripts/07_backtest.py:435-441` re-read by `scripts/08_visualize_
  * equity.py:14-19`, JSON metric sinks `scripts/07_backtest.py:429-432`.
  *
  * Each query is a write→read-back roundtrip into a per-query temp dir,
  * so the oracle (plain SELECT on the original table) verifies the
  * sink preserves values exactly. Roundtrips write with an explicit
  * schema on re-read — never inference — per the 100 TB rule that
  * schema is declared, not discovered.
  */
object SourceSinks {

  /** A deliberately fragmented copy of events (64 files) for the
    * compaction operator — written once per (session, dir), same
    * immutable-dir lifecycle as the other staged layouts. */
  private val fragCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private[operators] def fragmentedDir(s: SparkSession, d: String): String =
    synchronized { fragCache.getOrElseUpdate((s, d), {
      val out = Fs.scratch("s19frag")
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .repartition(64)
        .write.mode("overwrite").parquet(out)
      out
    })}

  /** The compaction itself: rewrite a fragmented layout into 2
    * right-sized files (at real scale the `2` is computed from target
    * bytes / input size). Shared by the S19 query and the spec that
    * asserts the file-count collapse. */
  private[operators] def compact(s: SparkSession, fragDir: String,
      out: String): Unit =
    s.read.parquet(fragDir)
      .repartition(2)
      .write.mode("overwrite").parquet(out)

  /** Morton interleave of two 16-bit dimension ranks: bit i of `ux`
    * lands at z-bit 2i, bit i of `vx` at 2i+1, so a contiguous z range
    * constrains the TOP bits of BOTH dimensions at once. Pure
    * shift/and/or builtins — whole-stage codegen, no UDF. */
  private def interleave16(ux: Column, vx: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(ux, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(vx, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Linear 16-bit rank of `x` within [mn, mx] (clamped). Spark's
    * `floor(double)` is already BIGINT. */
  private def scale16(x: Column, mn: Column, mx: Column): Column =
    least(floor((x - mn) / (mx - mn + lit(1e-9)) * 65536), lit(65535L))

  /** S22's staged layout: events Z-ORDERED on (user_id, value) — the
    * multi-dimensional clustering a 100 TB lake runs as OPTIMIZE
    * ZORDER. A sort by one column makes that column's min/max file
    * stats tight and leaves every other column's spanning the full
    * range; the Morton curve gives every file a compact rectangle in
    * BOTH dimensions, so box predicates (and single-column slices on
    * EITHER dimension) prune files/row-groups. Two passes over the
    * data: a 1-row bounds aggregate (broadcast onto the scan — the
    * a13 pattern), then rank → interleave → range-repartition by z →
    * sort-within-partitions. Same (session, dir) immutable-input
    * lifecycle as the other staged layouts; `invalidate` deletes the
    * dir and the next use re-stages. Bench times the staging as
    * `s22_layout_build`. */
  val zorderDir = graft.MaterializedTable.of("s22_layout_build") {
    (s, d) =>
      val out = Fs.scratch("s22z")
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val bounds = ev.agg(
        min(col("user_id")).cast("double").as("umin"),
        max(col("user_id")).cast("double").as("umax"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      ev.crossJoin(broadcast(bounds))
        .withColumn("ux",
          scale16(col("user_id").cast("double"), col("umin"), col("umax")))
        .withColumn("vx", scale16(col("value"), col("vmin"), col("vmax")))
        .withColumn("z", interleave16(col("ux"), col("vx")))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions("z")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").parquet(out)
      out
  }((_, p) => Fs.deleteRecursively(new java.io.File(p)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S2: parquet write + read back.
    "s2_parquet_roundtrip" -> ((s, d) => {
      val out = Fs.scratch("s2")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("o_orderkey")
    }),

    // S3: partitioned write (partition column round-trips through the
    // directory layout; read back restores it — cast to original type).
    "s3_partitioned_write" -> ((s, d) => {
      val out = Fs.scratch("s3")
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .select(col("event_id"), col("event_type").cast("string"),
          col("value"))
        .orderBy("event_id")
    }),

    // S25: file-provenance lineage via the hidden _metadata column —
    // the data-governance surface a 100 TB lake audits with: every
    // row carries WHICH file it came from at zero storage cost (the
    // reader synthesizes the column; no extra scan). The query
    // re-derives per-partition row counts purely from file-path
    // provenance (the partition value parsed OUT of the path, never
    // read from the data) over a day-partitioned layout — and the
    // oracle computes the same accounting from the DATA, so the check
    // proves file lineage and content agree row-for-row. Distinct
    // file count per partition rides along (the small-files audit
    // S19's compaction acts on).
    // S26: binaryFile ingest — how multimodal payloads actually
    // arrive at 100 TB: one OBJECT per image/audio clip, not rows in
    // a table. Stage: a bounded slice (doc_id < 100) lands as one
    // newline-terminated object per doc through the text sink under
    // doc_id= partition dirs; `format("binaryFile")` reads the
    // objects back as (path, modificationTime, length, content) with
    // partition discovery recovering the id — the exact ingest plan
    // an image corpus uses (content stays an opaque binary column
    // through the scan, MM1's contract). Identity is proven by
    // content hash: md5 over the raw object bytes must equal md5 of
    // the source text + the sink's newline, recomputed by DuckDB
    // from the table alone — so the file round trip (write → object
    // listing → binary read) is lossless end to end. Fully
    // oracle-checked.
    "s26_binary_files" -> ((s, d) => {
      val out = Fs.scratch("s26")
      Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").partitionBy("doc_id").text(out)
      s.read.format("binaryFile").load(out)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_hash"))
        .orderBy("doc_id")
    }),

    "s25_file_provenance" -> ((s, d) => {
      val out = Fs.scratch("s25")
      Tables.events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .select(col("event_id"), col("day"), col("value"))
        // one file per partition (the anti-small-files ingest shape
        // S19 compacts toward) — and what makes n_files an invariant
        // the oracle can state from the data alone
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
      s.read.parquet(out)
        .select(col("event_id"),
          regexp_extract(col("_metadata").getField("file_path"),
            "day=([0-9-]+)/", 1).as("day"),
          col("_metadata").getField("file_name").as("fname"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("fname")).as("n_files"))
        .orderBy("day")
    }),

    // S4+S5: CSV write then schema'd scan (header, explicit schema —
    // timestamps serialize ISO and parse back exactly).
    "s4_csv_roundtrip" -> ((s, d) => {
      val out = Fs.scratch("s4")
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType)))
      s.read.option("header", "true").schema(schema).csv(out)
        .orderBy("c_custkey")
    }),

    // S27: compressed-text ingest — the codec leg S4/S6 leave
    // uncovered, and at 100 TB the one that decides task parallelism:
    // gzip is NOT splittable (one task per file — fine for many-file
    // object-store layouts, fatal for single-file dumps), bzip2 IS
    // (block-split boundaries let one file fan out across executors).
    // One query certifies BOTH codec paths end to end: the same
    // orders projection written as gzip CSV and bzip2 JSON, read back
    // schema'd, and joined on the key — the oracle reads the
    // uncompressed source, so the hash proves bit-exact round-trips
    // through both codecs (doubles survive via the shortest-repr
    // text render, the S4 contract).
    "s27_compressed_roundtrip" -> ((s, d) => {
      val outGz = Fs.scratch("s27gz"); val outBz = Fs.scratch("s27bz")
      // the single-parquet-file source arrives as ONE partition, so
      // both codec writes ran as one task — the whole gzip+bzip2 CPU
      // serialized on one core (guide §2.5: input skew from one
      // unsplittable-ish file; repartition right after the read).
      // Keyed repartition (deterministic, no sort-before-repartition)
      // at the session's parallelism spreads the compression; result
      // rows are unchanged (the read-back join + final orderBy are
      // partition-layout-blind).
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .repartition(s.sparkContext.defaultParallelism, col("o_orderkey"))
      src.write.mode("overwrite").option("header", "true")
        .option("compression", "gzip").csv(outGz)
      src.write.mode("overwrite")
        .option("compression", "bzip2").json(outBz)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType)))
      val gz = s.read.option("header", "true").schema(schema).csv(outGz)
      val bz = s.read.schema(schema).json(outBz)
        .select(col("o_orderkey"),
          col("o_orderstatus").as("status_bz"),
          col("o_totalprice").as("price_bz"))
      gz.join(bz, Seq("o_orderkey")).orderBy("o_orderkey")
    }),

    // S6+S7: JSON write then schema'd read.
    "s6_json_roundtrip" -> ((s, d) => {
      val out = Fs.scratch("s6")
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_acctbal", DoubleType)))
      s.read.schema(schema).json(out).orderBy("s_suppkey")
    }),

    // S16: ORC write + read back — the other columnar format Spark
    // ships natively (predicate pushdown + column pruning work the
    // same as parquet); completes the format matrix next to
    // parquet/CSV/JSON.
    "s16_orc_roundtrip" -> ((s, d) => {
      val out = Fs.scratch("s16")
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy("p_partkey")
    }),

    // S17: schema evolution across file generations — the lake
    // reality at 100 TB: years-old files lack columns added later.
    // Generation 1 writes (event_id, value); generation 2 adds
    // event_type; a mergeSchema read reconciles both under the union
    // schema with NULLs where the old files have no column. The
    // read-side contract (NULL fill, no rewrite of old data) is what
    // the oracle checks.
    "s17_schema_evolution" -> ((s, d) => {
      val out = Fs.scratch("s17")
      val ev = Tables.events(s, d)
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("value"))
        .write.mode("overwrite").parquet(s"$out/gen=1")
      ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("value"), col("event_type"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true")
        .option("basePath", out).parquet(s"$out/gen=1", s"$out/gen=2")
        .select(col("event_id"), col("value"), col("event_type"))
        .orderBy("event_id")
    }),

    // S18: dynamic partition overwrite — reprocess ONE partition in
    // place without touching its siblings (the daily-backfill pattern:
    // a corrected pipeline rewrites day=X while years of other
    // partitions stay untouched). Static overwrite mode would TRUNCATE
    // the whole table first; `partitionOverwriteMode=dynamic` replaces
    // only partitions the write produces. The read-back proves it:
    // clicks carry the reprocessed (doubled) values, every other
    // partition the original load.
    "s18_dynamic_overwrite" -> ((s, d) => {
      val out = Fs.scratch("s18")
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      ev.filter(col("event_type") === "click")
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .select(col("event_id"), col("event_type").cast("string"),
          col("value"))
        .orderBy("event_id")
    }),

    // S19: small-file compaction — the OPTIMIZE pattern: streaming and
    // incremental ingest fragment a table into thousands of tiny files
    // whose per-file scheduling overhead dominates reads at 100 TB;
    // compaction rewrites the fragmented layout into few
    // right-sized files with IDENTICAL content. The oracle checks the
    // content identity; SourceSinksSpec asserts the file-count
    // collapse (the part the content compare can't see).
    "s19_compaction" -> ((s, d) => {
      val out = Fs.scratch("s19c")
      compact(s, fragmentedDir(s, d), out)
      s.read.parquet(out)
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),

    // S21: batch MERGE upsert — the lakehouse MERGE INTO kernel
    // without a table format: an updates batch lands on an existing
    // parquet table, matched keys take the update's values, unmatched
    // updates insert, untouched rows carry over; the merge writes a
    // NEW snapshot (immutable lake data — never in-place). The engine
    // of it is ONE full-outer shuffle join on the key + null-safe
    // coalesce; at 100 TB the rewrite partition-prunes (S18's dynamic
    // overwrite) and the base is bucketed by the merge key (S15) so
    // the join side of MERGE is co-located. Oracle checks the merged
    // read-back against the same FULL JOIN in SQL.
    "s21_merge_upsert" -> ((s, d) => {
      val out = Fs.scratch("s21")
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      ev.filter(col("event_id") % 4 =!= 0)
        .write.mode("overwrite").parquet(s"$out/v1")
      val updates = ev.filter(col("event_id") % 2 === 0)
        .withColumn("value", col("value") * 2)
      val merged = s.read.parquet(s"$out/v1").alias("t")
        .join(updates.alias("u"), Seq("event_id"), "full_outer")
        .select(col("event_id"),
          coalesce(col("u.event_type"), col("t.event_type"))
            .as("event_type"),
          coalesce(col("u.value"), col("t.value")).as("value"))
      merged.write.mode("overwrite").parquet(s"$out/v2")
      s.read.parquet(s"$out/v2").orderBy("event_id")
    }),

    // S24: snapshot diff — the change-data-capture primitive next to
    // S21's MERGE: given two table versions, classify every key as
    // insert / delete / update (unchanged rows drop out). Simulated
    // versions are deterministic slices of orders (v1 lacks keys
    // %7=0; v2 lacks %11=0 and bumps %5=0 prices ×1.1), so the whole
    // diff is oracle-checkable. The engine of it is ONE full-outer
    // shuffle join on the key — at 100 TB both snapshots partition-
    // prune to the touched partitions first (S18) and co-locate when
    // bucketed by key (S15), the same scaling story as S21.
    "s24_snapshot_diff" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
      val v1 = base.filter(col("o_orderkey") % 7 =!= 0)
        .withColumnRenamed("o_totalprice", "old_price")
      val v2 = base.filter(col("o_orderkey") % 11 =!= 0)
        .withColumn("new_price",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
        .drop("o_totalprice")
      v1.join(v2, Seq("o_orderkey"), "full_outer")
        .withColumn("change",
          when(col("old_price").isNull, "insert")
            .when(col("new_price").isNull, "delete")
            .otherwise("update"))
        .filter(col("old_price").isNull || col("new_price").isNull ||
          col("old_price") =!= col("new_price"))
        .select(col("o_orderkey"), col("change"),
          col("old_price"), col("new_price"))
        .orderBy("o_orderkey")
    }),

    // S14: chart-data sink — the exact per-day series a dashboard equity
    // chart consumes (scripts/08_visualize_equity.py data prep).
    "s14_chart_data" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(round(sum(col("value")), 6).as("total_value"),
          count(lit(1)).as("n_events"))
        .orderBy("day")),

    // S15: bucketed co-located layout — write once bucketed by the
    // join key, then run aggregate + aggregate + join with ZERO
    // shuffle (PlanShapeSpec asserts no Exchange in the tree).
    "s15_bucketed_join" -> ((s, d) =>
      bucketedJoinPlan(s, d).orderBy("user_id")),

    // S22: Z-order clustered read — the box query the layout exists
    // for: both range predicates land on file/row-group min-max stats
    // (each z-file is a compact rectangle in (user_id, value) space).
    // The oracle proves content is layout-invariant; SourceSinksSpec
    // measures the clustering itself (a value slice concentrates into
    // a fraction of the z-files while spanning EVERY file of a
    // user_id-sorted layout).
    "s22_zorder_prune" -> ((s, d) =>
      s.read.parquet(zorderDir(s, d))
        .filter(col("user_id").between(2, 5) &&
          col("value").between(20, 80))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .orderBy("event_id"))
  )

  private val bucketedSeq = new java.util.concurrent.atomic.AtomicInteger

  /** Catalog name of the bucketed events layout for (session, dir),
    * ingested on first use. The pay-the-shuffle-once layout is only a
    * win if it is in fact paid once: repeat invocations (bench reps,
    * parallel suites) reuse the table instead of racing overwrites of
    * a shared name. Same lifecycle contract as
    * [[graft.MaterializedTable]]: valid while the data under `dir` is
    * immutable; `invalidate` drops the table and the next use
    * re-ingests. Bench times the ingest as `s15_layout_build`. */
  val bucketedTable = graft.MaterializedTable.of("s15_layout_build") {
    (s, d) =>
      val tbl = s"graft_s15_events_bucketed_${bucketedSeq.incrementAndGet()}"
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite")
        .option("path", Fs.scratch("s15"))  // external location: keep data
        .bucketBy(8, "user_id")      // out of ./spark-warehouse
        .sortBy("user_id")
        .format("parquet")
        .saveAsTable(tbl)
      tbl
  }((s, t) => s.sql(s"DROP TABLE IF EXISTS $t"))

  /** The S15 plan before the presentation sort: events are written
    * bucketed + sorted by `user_id` into the session catalog, and the
    * bucketed scan reports `HashPartitioning(user_id, 8)` — which
    * satisfies the distribution requirement of BOTH per-key hash
    * aggregates AND the sort-merge join, so the whole tree plans with
    * no Exchange. At 100 TB this is the layout decision the engine is
    * built around: pay the partitioning shuffle ONCE at ingest, run
    * every downstream per-key aggregation and co-located join
    * shuffle-free (the `merge` hint pins the join to sort-merge so a
    * broadcast of the smaller side cannot mask the co-location).
    */
  def bucketedJoinPlan(s: SparkSession, d: String): DataFrame = {
    val ev = s.table(bucketedTable(s, d))
    val byUser = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"))
    val highs = ev.filter(col("value") > 100).groupBy("user_id")
      .agg(count(lit(1)).as("n_high"))
    byUser.hint("merge").join(highs, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("total_value"),
        coalesce(col("n_high"), lit(0L)).as("n_high"))
  }

  /** Every event's (event_id, event_type, value): the oracle of each
    * write that must read back the events unchanged (S3, S19). */
  private val EventRowsSql =
    """SELECT event_id, event_type, value FROM events ORDER BY event_id"""

  val oracles: Map[String, String] = Map(
    "s24_snapshot_diff" ->
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice AS old_price FROM orders
           WHERE o_orderkey % 7 <> 0),
         v2 AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 5 = 0
                       THEN o_totalprice * CAST(1.1 AS DOUBLE)
                       ELSE o_totalprice END AS new_price
           FROM orders WHERE o_orderkey % 11 <> 0)
         SELECT o_orderkey,
                CASE WHEN old_price IS NULL THEN 'insert'
                     WHEN new_price IS NULL THEN 'delete'
                     ELSE 'update' END AS change,
                old_price, new_price
         FROM v1 FULL JOIN v2 USING (o_orderkey)
         WHERE old_price IS NULL OR new_price IS NULL
            OR old_price <> new_price
         ORDER BY o_orderkey""",
    "s21_merge_upsert" ->
      """WITH base AS (
           SELECT event_id, event_type, value FROM events
           WHERE event_id % 4 <> 0),
         updates AS (
           SELECT event_id, event_type, value * 2 AS value FROM events
           WHERE event_id % 2 = 0)
         SELECT coalesce(u.event_id, t.event_id) AS event_id,
                coalesce(u.event_type, t.event_type) AS event_type,
                coalesce(u.value, t.value) AS value
         FROM base t FULL JOIN updates u ON t.event_id = u.event_id
         ORDER BY event_id""",
    "s17_schema_evolution" ->
      """SELECT event_id, value, NULL AS event_type
         FROM events WHERE event_id % 2 = 0
         UNION ALL
         SELECT event_id, value, event_type
         FROM events WHERE event_id % 2 = 1
         ORDER BY event_id""",
    "s16_orc_roundtrip" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
         ORDER BY p_partkey""",
    "s19_compaction" -> EventRowsSql,
    "s18_dynamic_overwrite" ->
      """SELECT event_id, event_type,
                CASE WHEN event_type = 'click' THEN value * 2
                     ELSE value END AS value
         FROM events ORDER BY event_id""",
    "s22_zorder_prune" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE user_id BETWEEN 2 AND 5 AND value BETWEEN 20 AND 80
         ORDER BY event_id""",
    "s2_parquet_roundtrip" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
         ORDER BY o_orderkey""",
    "s3_partitioned_write" -> EventRowsSql,
    // provenance accounting re-derived from the DATA: lineage and
    // content must agree; n_files = 1 is the repartition invariant
    "s25_file_provenance" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                count(*) AS n_rows, CAST(1 AS BIGINT) AS n_files
         FROM events GROUP BY 1 ORDER BY day""",
    // the object bytes are the text + the sink's one trailing newline
    "s26_binary_files" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
                md5(text || chr(10)) AS content_hash
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    "s4_csv_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         ORDER BY c_custkey""",
    "s6_json_roundtrip" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
         ORDER BY s_suppkey""",
    // both codec legs must reproduce the uncompressed source exactly
    "s27_compressed_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
                o_orderstatus AS status_bz, o_totalprice AS price_bz
         FROM orders ORDER BY o_orderkey""",
    "s14_chart_data" ->
      """SELECT date_trunc('day', ts) AS day,
                round(sum(value), 6) AS total_value, count(*) AS n_events
         FROM events GROUP BY 1 ORDER BY day""",
    "s15_bucketed_join" ->
      """WITH byu AS (
           SELECT user_id, count(*) AS n_events,
                  round(sum(value), 6) AS total_value
           FROM events GROUP BY 1),
         h AS (
           SELECT user_id, count(*) AS n_high
           FROM events WHERE value > 100 GROUP BY 1)
         SELECT b.user_id, b.n_events, b.total_value,
                coalesce(h.n_high, 0) AS n_high
         FROM byu b LEFT JOIN h ON b.user_id = h.user_id
         ORDER BY b.user_id"""
  )
}
