package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Dataset-assembly operators a training-data pipeline needs between
  * cleaning and writing shards: deterministic train/validation
  * splitting and class-balanced downsampling. Both are expressed over
  * md5 — the one hash both engines share — so unlike the xxhash64
  * paths these are FULLY oracle-checked, and both are reproducible by
  * construction (no RNG state: the split of a row is a pure function
  * of its key, stable across reruns, partitionings, and engines).
  *
  * Scale notes: DS1 is a stateless map + hash agg — nothing shuffles
  * but the per-split counters. DS2's exact per-class k is a windowed
  * rank — one shuffle by class, and a skewed class lands on one
  * reducer; at 100 TB the constant-FRACTION form (filter on the hash
  * like DS1, no shuffle at all) replaces exact-k unless a hard row
  * budget is contractual — both forms are deterministic, which is the
  * property that matters (the reference has no sampling story at all;
  * this is the builder-brief training-pipeline extension).
  */
object DatasetOps {

  /** Leakage-free split assignment: hash the GROUP key (user), not the
    * row, so every row of a user lands in the same split — split
    * leakage across correlated rows is the classic eval bug this
    * prevents. First hex char < 'd' ⇒ train: 13/16 = 81.25% expected
    * mass, realized proportions depend on the key distribution. */
  private[operators] def split(key: Column): Column =
    when(substring(md5(key.cast("string")), 1, 1) < "d", "train")
      .otherwise("val")

  /** DS17's exact stratum rank, shared with PIPE6's split: for each
    * row of `base` (doc_id, lang, source, seeded md5 key `k` and its
    * 2-hex-digit `bucket`) the rows of its (lang, source) stratum in
    * lower buckets `below`, its row number by (k, doc_id) within the
    * bucket `wrn`, and the stratum size `n`; below + wrn is its exact
    * rank in the stratum's md5 permutation. The bucket window runs on
    * ≤256 rows per stratum, so no stratum ranks on one partition. */
  private[operators] def stratumRanks(base: DataFrame): DataFrame = {
    val bcnt = base.groupBy("lang", "source", "bucket")
      .agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(sum(col("c")).over(
        Window.partitionBy("lang", "source").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val n = bcnt.groupBy("lang", "source").agg(sum(col("c")).as("n"))
    base
      .withColumn("wrn", row_number().over(
        Window.partitionBy("lang", "source", "bucket")
          .orderBy("k", "doc_id")).cast("long"))
      .join(bcnt.select(col("lang"), col("source"), col("bucket"),
        col("below")), Seq("lang", "source", "bucket"))
      .join(n, Seq("lang", "source"))
  }

  /** DS19's per-source permutation rank, shared with PIPE6: each row
    * of `base` (source, doc_id, md5 key `k`, its 2-hex-digit `shard`)
    * gets its 1-based `rank` by (k, doc_id) within its source, as the
    * (source, shard) histogram's prefix `before` plus a row_number
    * within (source, shard) — no per-source global window. */
  private[operators] def sourceRanks(base: DataFrame): DataFrame = {
    val hist = base.groupBy("source", "shard").agg(count(lit(1)).as("c"))
      .withColumn("before", coalesce(sum(col("c")).over(
        Window.partitionBy("source").orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("shard"), col("before"))
    base.join(broadcast(hist), Seq("source", "shard"))
      .withColumn("rank", col("before") + row_number().over(
        Window.partitionBy("source", "shard")
          .orderBy(col("k"), col("doc_id"))))
  }

  /** DS19's strict round-robin source interleave, shared with PIPE6:
    * from each doc's 1-based `rank` within its source, the first `mn`
    * (the smallest source's size) of every source, position
    * (rank − 1)·S + source_idx − 1 of the global stream. The source
    * frame is ≤|sources| rows and broadcasts. */
  private[operators] def interleave(ranked: DataFrame): DataFrame = {
    val srcs = ranked.groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("source_idx",
        row_number().over(Window.orderBy("source")).cast("long"))
      .withColumn("mn", min(col("n_src")).over(Window.partitionBy()))
      .withColumn("n_sources",
        count(lit(1)).over(Window.partitionBy()))
      .select(col("source"), col("source_idx"), col("mn"),
        col("n_sources"))
    ranked.join(broadcast(srcs), Seq("source"))
      .filter(col("rank") <= col("mn"))
      .select(col("doc_id"), col("source"), col("rank"),
        ((col("rank") - 1) * col("n_sources") + col("source_idx") - 1)
          .as("global_pos"))
      .orderBy("global_pos")
  }

  /** Oracle twin of `interleave` over the CTE `ranked`. */
  private[operators] val InterleaveSql =
    """srcs AS (
           SELECT source, count(*) AS n_src,
                  row_number() OVER (ORDER BY source) AS source_idx
           FROM ranked GROUP BY 1),
         meta AS (
           SELECT source, source_idx,
                  min(n_src) OVER () AS mn,
                  count(*) OVER () AS n_sources
           FROM srcs)
         SELECT r.doc_id, r.source, CAST(r.rank AS BIGINT) AS rank,
                CAST((r.rank - 1) * m.n_sources + m.source_idx - 1
                     AS BIGINT) AS global_pos
         FROM ranked r JOIN meta m ON r.source = m.source
         WHERE r.rank <= m.mn
         ORDER BY global_pos"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DS1: deterministic group-aware train/val split — per-split row
    // and group accounting (the audit a split job emits).
    "ds1_hash_split" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("split", split(col("user_id")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("split")),

    // DS13: NEAR-DUP-cluster-aware split — the leakage DS1's
    // group-aware hashing cannot see: two near-duplicate documents
    // with different ids can straddle train/test, and the model is
    // then evaluated on paraphrases of its training data (the
    // contamination fuzzy decon (DECON2) exists to catch across
    // corpora, here prevented WITHIN one). Split key = the D10
    // canonical component id, so every member of a near-dup cluster
    // lands on the same side by construction. Composes the engine's
    // own pieces (exact pair graph → connected components → md5
    // split ladder) in one plan; fully oracle-checked (the d10
    // recursive-CTE closure + the DS1 split CASE in DuckDB).
    "ds13_cluster_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") < 100).select(col("doc_id"))
      val pairs = TextAnalysis.slicePairs100(s, d)
      Dedup.connectedComponents(pairs, docs)._1
        .select(col("doc_id"), col("comp").as("canonical_id"),
          split(col("comp")).as("split"))
        .orderBy("doc_id")
    }),

    // DS17: stratified EXACT-allocation split — what DS1's hash
    // ladder cannot promise: per (lang, source) stratum the split
    // sizes are exactly ⌊0.8n⌋ / ⌊0.9n⌋−⌊0.8n⌋ / rest BY
    // CONSTRUCTION (hash splits only hit proportions in expectation
    // — a 7-doc stratum can land 7/0/0), which is what "evaluate on
    // every stratum" demands of small strata. Assignment = the doc's
    // EXACT rank in the stratum's seeded-md5 permutation (DS7's
    // rerunnable discipline), computed with the two-level
    // decomposition (A73/DS15's trick) so no stratum ever ranks on
    // one partition: rank = cumBelow(256 md5-prefix buckets; the
    // bucket window runs on ≤256 rows per stratum) + row_number
    // within (stratum, bucket) — partitions shrink 256× below
    // stratum size. Pure integer arithmetic → fully oracle-checked.
    "ds17_stratified_split" -> ((s, d) => {
      val k = md5(concat_ws(":", lit("ds17"), col("doc_id")))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), k.as("k"))
        .withColumn("bucket",
          conv(substring(col("k"), 1, 2), 16, 10).cast("long"))
      stratumRanks(base)
        .withColumn("rnk", col("below") + col("wrn"))
        .withColumn("split",
          when(col("rnk") <= expr("div(n * 8, 10)"), "train")
            .when(col("rnk") <= expr("div(n * 9, 10)"), "val")
            .otherwise("test"))
        .select(col("doc_id"), col("lang"), col("source"), col("split"))
        .orderBy("doc_id")
    }),

    // DS18: length-distribution balancing — the histogram-matching
    // curation step (long-doc bias is the classic web-corpus skew;
    // DS9 clips values, this reshapes the SAMPLE): 10 fixed
    // integer-arithmetic bins over the global token-count range
    // ((n−min)·10 div (range+1) — exact on both engines, no float
    // cuts), then every bin downsampled to EXACTLY the
    // least-populated bin's count, members chosen by the seeded-md5
    // permutation rank (DS7's rerunnable discipline) through the
    // two-level (bin, md5-prefix-bucket) decomposition — DS17's
    // shape, so no bin ever ranks on one partition. The uniform
    // result histogram is BY CONSTRUCTION, not in expectation.
    // Pure integer arithmetic → fully oracle-checked.
    "ds18_balance_lengths" -> ((s, d) => {
      val base0 = Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextAnalysis.toks).cast("long").as("n_tok"))
      val rng = base0.agg(min(col("n_tok")).as("tmin"),
        max(col("n_tok")).as("tmax"))
      val base = base0.crossJoin(broadcast(rng))
        .withColumn("bin",
          expr("div((n_tok - tmin) * 10, tmax - tmin + 1)"))
        .withColumn("k", md5(concat_ws(":", lit("ds18"), col("doc_id"))))
        .withColumn("bucket",
          conv(substring(col("k"), 1, 2), 16, 10).cast("long"))
      val bcnt = base.groupBy("bin", "bucket")
        .agg(count(lit(1)).as("c"))
        .withColumn("below", coalesce(sum(col("c")).over(
          Window.partitionBy("bin").orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val target = bcnt.groupBy("bin").agg(sum(col("c")).as("nb"))
        .agg(min(col("nb")).as("m"))
      base
        .withColumn("wrn", row_number().over(
          Window.partitionBy("bin", "bucket").orderBy("k", "doc_id"))
          .cast("long"))
        .join(bcnt.select(col("bin"), col("bucket"), col("below")),
          Seq("bin", "bucket"))
        .crossJoin(broadcast(target))
        .filter(col("below") + col("wrn") <= col("m"))
        .select(col("doc_id"), col("n_tok"), col("bin"))
        .orderBy("doc_id")
    }),

    // DS11: k-fold cross-validation assignment — GROUP-AWARE (every
    // event of a user lands in one fold, the same leakage guard as
    // DS1's split) via the md5-uniform ladder, with the audit a CV
    // harness needs: per-fold test/train sizes (train = complement),
    // user counts, and class balance (click share) to confirm the
    // folds are exchangeable. Stateless map + one hash agg; the
    // 1-row total broadcasts. floor(frac·K) is clamped to K−1 (frac
    // can hit 1.0 only at the 2⁶⁰ boundary, but the clamp makes the
    // invariant structural).
    "ds11_kfold" -> ((s, d) => {
      val K = 5
      val frac = conv(substring(md5(col("user_id").cast("string")), 1, 15),
          16, 10).cast("long").cast("double") /
        lit(1152921504606846976L).cast("double") // 2^60, exact as double
      val folds = Tables.events(s, d)
        .withColumn("fold",
          least(floor(frac * K), lit(K - 1)).cast("int"))
      val tot = folds.agg(count(lit(1)).as("n_total"))
      folds.groupBy("fold")
        .agg(count(lit(1)).as("n_test"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("click_share"))
        .crossJoin(broadcast(tot))
        .withColumn("n_train", col("n_total") - col("n_test"))
        .select(col("fold"), col("n_test"), col("n_train"),
          col("n_users"), col("click_share"))
        .orderBy("fold")
    }),

    // DS12: temperature-based mixture reweighting — the multilingual
    // /multi-source sampling formula (q_i ∝ p_i^α, α = 0.7 here; the
    // mT5/XLM-R recipe): raising source probabilities to α < 1
    // flattens the mixture so low-resource sources are upsampled
    // RELATIVELY without duplicating rows — the computed keep
    // fraction per source is q_i·N_target/n_i capped at 1 (no
    // replication, subsampling only). Unlike DS5 the weights are
    // DERIVED from the observed counts (one tiny agg + broadcast),
    // then the same shuffle-free md5-ladder filter decides
    // membership. Audit output: per-source n_in, natural share,
    // temperature share, realized kept counts. Fully oracle-checked.
    "ds12_temperature_mix" -> ((s, d) => {
      val alpha = 0.7
      val counts = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n_in"))
      // z sums ~20 libm pows — decimal-pinned so accumulation order
      // can't move it; the keep decision compares against the ROUNDED
      // fraction so a 1-ulp pow divergence can't flip a membership
      val tot = counts.agg(sum(col("n_in")).as("n"),
        sum(pow(col("n_in").cast("double"), lit(alpha))
          .cast("decimal(30,12)")).cast("double").as("z"))
      val frac = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
          16, 10).cast("long").cast("double") /
        lit(1152921504606846976L).cast("double") // 2^60, exact as double
      val targets = counts.crossJoin(broadcast(tot))
        .withColumn("p_nat", col("n_in").cast("double") / col("n"))
        .withColumn("q_temp",
          pow(col("n_in").cast("double"), lit(alpha)) / col("z"))
        // budget = half the corpus; cap at 1 (subsample, never clone)
        .withColumn("keep_frac",
          round(least(lit(1.0),
            col("q_temp") * (col("n").cast("double") / 2) / col("n_in")),
            6))
      Tables.documents(s, d)
        .join(broadcast(targets), Seq("source"))
        .withColumn("kept", when(frac < col("keep_frac"), 1L)
          .otherwise(0L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_in"), sum(col("kept")).as("n_kept"),
          round(max(col("p_nat")), 6).as("p_nat"),
          round(max(col("q_temp")), 6).as("q_temp"),
          max(col("keep_frac")).as("keep_frac"))
        .orderBy("source")
    }),

    // DS2: class-balanced downsample — exactly k rows per class,
    // chosen by deterministic hash order (not "first k seen", which
    // would bias toward whatever the scan order favors).
    "ds2_balanced_sample" -> ((s, d) => {
      val k = 100
      val w = Window.partitionBy("event_type")
        .orderBy(md5(col("event_id").cast("string")), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy("event_type", "event_id")
    }),

    // DS7: deterministic epoch shuffle — the "global shuffle" every
    // training loader needs, without RNG state OR a global sort. The
    // permutation is a pure function of (epoch, doc_id): a seeded md5
    // ranks the rows, and the corpus is sharded by the hash's first
    // byte so the ordering window is PER-SHARD (hash-partitioned, no
    // single-reducer global row_number). A loader consumes shards
    // independently in (shard, pos) order; changing the epoch literal
    // yields an uncorrelated new permutation. Reproducible across
    // reruns, partitionings, and engines — fully oracle-checked.
    "ds7_epoch_shuffle" -> ((s, d) => {
      val epoch = 7
      val k = md5(concat_ws(":", lit(epoch), col("doc_id")))
      val shard = pmod(
        conv(substring(k, 1, 2), 16, 10).cast("long"), lit(8L))
      val w = Window.partitionBy("shard").orderBy("k", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), k.as("k"), shard.as("shard"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    }),

    // DS3: sequence packing — the concat-and-chunk layout LLM
    // training uses (documents laid head-to-tail, split into
    // fixed-size context blocks; a doc may straddle a block
    // boundary). A GLOBAL running offset is a global sort at 100 TB,
    // so packing is per-shard: each shard packs independently via a
    // windowed running sum — embarrassingly parallel, one shuffle by
    // shard — and each doc reports its token offset and the block
    // span it lands in. Deterministic (shard and order are pure
    // functions of doc_id), fully oracle-checked.
    // DS15: curriculum bucketing — order training data easy→hard
    // (Bengio et al. 2009): exact decile buckets over a difficulty
    // proxy (the pipe2 stopword-ratio quality score). Bucket comes
    // from the doc's EXACT integer rank, computed distributively —
    // a distinct-score histogram (hash agg, bounded by distinct
    // (stop, total) token-count pairs, not the corpus) prefix-summed
    // and broadcast back, plus a per-score tie row_number (partitions
    // bounded by tie-group size) — where the naive ntile(10) global
    // window single-partitions 100 TB, and interpolated-percentile
    // thresholds flip buckets on cross-engine ulp differences (the
    // first draft of this query did, at exactly one sf0.1 row).
    // Integer arithmetic end to end → fully oracle-checked. Loaders
    // feed buckets in order (epoch shuffle WITHIN a bucket via ds7).
    "ds15_curriculum" -> ((s, d) => {
      val stop = Seq("the", "a", "of", "and", "to", "in", "is", "on")
      val nTok = size(col("t")).cast("double")
      val stopN = size(filter(col("t"), t => t.isInCollection(stop)))
        .cast("double")
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.toks.as("t"))
        .select(col("doc_id"), (stopN / nTok).as("score"))
      val wCum = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val hist = scored.groupBy("score").agg(count(lit(1)).as("c"))
        .withColumn("before", coalesce(sum(col("c")).over(wCum), lit(0L)))
        .select(col("score"), col("before"))
      val n = scored.agg(count(lit(1)).as("n"))
      scored
        .join(broadcast(hist), Seq("score"))
        .withColumn("tie_rn", row_number().over(
          Window.partitionBy("score").orderBy("doc_id")))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          (expr("div((before + tie_rn - 1) * 10, n)") + 1L).as("bucket"))
        .orderBy("doc_id")
    }),

    // DS16: token-budget mixture draw — corpus assembly by TOKEN
    // budget, not row count: real mixture recipes say "500M tokens of
    // source X", and DS2/DS5/DS8 all sample rows/fractions. Greedy
    // fill without overflow: each source's docs in the deterministic
    // seeded-md5 order (DS7's permutation discipline — rerunnable,
    // engine-agnostic), running token prefix-sum per source, keep
    // while the cumulative count stays ≤ the budget; the first doc
    // that would overflow (and everything after it in the
    // permutation) is dropped. Scale: one corpus pass for token
    // counts, one per-source window — the even keyed shuffle every
    // DS op here uses; budgets bound OUTPUT, not work. Exact integer
    // sums over the shared tokenizer → fully oracle-checked.
    "ds16_token_budget" -> ((s, d) => {
      val Budget = 500L
      val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(TextAnalysis.toks).cast("long").as("n_tok"))
        .withColumn("h",
          conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long"))
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") <= Budget)
        .select(col("source"), col("doc_id"), col("n_tok"), col("cum_tok"))
        .orderBy("source", "cum_tok")
    }),

    // DS19: deterministic multi-source interleave — the fixed-order
    // merge of mixture sources every multi-corpus training loop runs
    // (HF interleave_datasets / tf.data sample_from_datasets, the
    // deterministic strict-round-robin form): position r·S+j of the
    // epoch stream is the r-th document of source j, so every prefix
    // of the stream is source-balanced BY CONSTRUCTION — where DS5/
    // DS12 sample proportions in EXPECTATION, this guarantees them
    // per batch, and `first_exhausted` stops at the shortest source
    // (rank ≤ min count) so the tail never degenerates to one source.
    // The per-source permutation rank is NOT a per-source global
    // window (5 sources = 5 reducers at 100 TB): DS15's two-level
    // decomposition — a (source, hash-shard) histogram prefix-summed
    // and broadcast back, plus a per-(source, shard) row_number over
    // 256-way finer partitions. Everything integer; fully
    // oracle-checked.
    "ds19_interleave" -> ((s, d) => {
      val epoch = 3
      val base = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          md5(concat_ws(":", lit(epoch), col("doc_id"))).as("k"))
        .withColumn("shard",
          conv(substring(col("k"), 1, 2), 16, 10).cast("long"))
      interleave(sourceRanks(base))
    }),

    // DS20: rolling-origin evaluation splits (expanding-window
    // time-series CV, Tashman 2000) — the split DS1/DS11's hash folds
    // must NEVER be used for on temporal data (random folds leak the
    // future into training): fold f trains on everything up to
    // cutoff_f and tests on the (cutoff_f, cutoff_{f+1}] slice, with
    // cutoffs on the INTEGER day-offset grid (offset = datediff from
    // the corpus min day; cutoff_f = span·f div (K+1) — integer
    // division, no date arithmetic anywhere a binary-rounded double
    // could touch). Audit columns: per-fold train/test row counts and
    // the user overlap between train and test (temporal splits keep
    // entities on both sides — the overlap is the point, reported not
    // hidden). One broadcast 4-row spine × conditional hash agg; the
    // distinct-user overlap joins two ≤|users| frames keyed on fold.
    // DS22: split-leakage audit — the MEASUREMENT behind DS13's fix:
    // how many verified near-dup pairs STRADDLE a naive per-doc md5
    // split (each straddling pair is a paraphrase of training data
    // sitting in the eval set)? Composes the shared materialized
    // corpus_pairs with DS1's split ladder applied per doc; emits
    // the pair count per unordered split combination with the
    // is_leak verdict. Exact integers; the oracle replays the
    // exhaustive graph + the same md5 CASE, so the hash also
    // re-proves banded LSH recall. The number DS13 drives to zero
    // by splitting on the component id instead.
    // DS21: dedup-aware mixture weights — the SemDeDup-style "count
    // each near-dup family ONCE" correction every mixture design
    // needs between D10's cluster resolution and DS5/DS12's sampling:
    // a source whose docs sit in big duplicate clusters contributes
    // less UNIQUE signal than its raw row count claims, so per doc
    // w = 1/|cluster| (uniform credit split within a family) and per
    // source n_effective = Σw beside the raw n_docs — the
    // dedup_ratio is the number the mixture weights should multiply.
    // Weights are r6'd then decimal-pinned (the order-free fold
    // discipline; 1/|cluster| has no exact binary form), the ratio
    // one division of the pinned render. Composes the shared
    // verified corpus graph → CC → one source rollup; the DuckDB
    // twin replays the exhaustive graph + closure (the hash re-proves
    // banded LSH recall) + the identical weight algebra. Fully
    // oracle-checked.
    "ds21_dedup_weights" -> ((s, d) => {
      val cc = graft.operators.Dedup.queries("d10_cc_corpus")(s, d)
      val csize = cc.groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("cs"))
      val w = cc.join(csize, Seq("canonical_id"))
        .withColumn("w", round(lit(1.0) / col("cs"), 6))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(w, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cs") > 1, 1L).otherwise(0L)).as("n_in_clusters"),
          sum(col("w").cast("decimal(24,10)")).cast("double")
            .as("n_effective"))
        .withColumn("dedup_ratio", col("n_effective") / col("n_docs"))
        .orderBy("source")
    }),

    "ds22_leakage_audit" -> ((s, d) => {
      val sp = Tables.documents(s, d)
        .select(col("doc_id"), split(col("doc_id")).as("sp"))
      val pairs = graft.operators.Dedup.corpusPairs(s, d)
      pairs
        .join(sp.select(col("doc_id").as("da"), col("sp").as("sa")),
          Seq("da"))
        .join(sp.select(col("doc_id").as("db"), col("sp").as("sb")),
          Seq("db"))
        .groupBy(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("split_a"), col("split_b"), col("n_pairs"),
          (col("split_a") =!= col("split_b")).as("is_leak"))
        .orderBy("split_a", "split_b")
    }),

    "ds20_rolling_origin" -> ((s, d) => {
      val K = 4
      val days = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          date_trunc("day", col("ts")).as("day"))
      val bounds = days.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .withColumn("span", datediff(col("mx"), col("mn")).cast("long"))
      val spine = bounds.select(col("mn"), col("span"),
        explode(array((1 to K).map(lit): _*)).as("fold"))
        .withColumn("train_end_off",
          expr("span * fold div 5"))
        .withColumn("test_end_off",
          expr("span * (fold + 1) div 5"))
        .select(col("mn"), col("fold").cast("long").as("fold"),
          col("train_end_off"), col("test_end_off"))
      val tagged = days.crossJoin(broadcast(spine))
        .withColumn("off", datediff(col("day"), col("mn")).cast("long"))
      tagged.groupBy("fold", "train_end_off", "test_end_off")
        .agg(
          sum(when(col("off") <= col("train_end_off"), 1L).otherwise(0L))
            .as("n_train"),
          sum(when(col("off") > col("train_end_off") &&
                   col("off") <= col("test_end_off"), 1L).otherwise(0L))
            .as("n_test"),
          countDistinct(when(col("off") <= col("train_end_off"),
            col("user_id"))).as("train_users"),
          countDistinct(when(col("off") > col("train_end_off") &&
            col("off") <= col("test_end_off"), col("user_id")))
            .as("test_users"))
        .orderBy("fold")
    }),

    // DS14: overlapping-window chunking — the RAG/retrieval-corpus
    // sibling of DS3's pack-and-chunk: each document yields windows of
    // 64 tokens every 48 (16-token overlap so no boundary sentence is
    // ever split across chunks without a copy that contains it whole).
    // Pure per-row explode over the shared corpus tokenizer — no
    // shuffle, no state, trivially 100 TB-parallel; chunk identity
    // (doc_id, chunk_idx) is a pure function of the text. Fully
    // oracle-checked (DuckDB replays the same slicing arithmetic).
    "ds14_chunk_overlap" -> ((s, d) => {
      val win = 64; val stride = 48
      Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), TextAnalysis.toks.as("t"))
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0), size(col("t")) - 1, lit(stride)))
            .as("start"))
        .select(col("doc_id"),
          floor(col("start") / stride).cast("long").as("chunk_idx"),
          col("start").cast("long").as("start_tok"),
          size(slice(col("t"), col("start") + 1, lit(win)))
            .cast("long").as("n_tok"),
          concat_ws(" ", slice(col("t"), col("start") + 1, lit(win)))
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    }),

    "ds3_sequence_pack" -> ((s, d) => {
      val ctx = 512
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        // exclude truly blank docs: split() yields [""] for
        // whitespace-only text, so a token-count guard would be dead
        // (size >= 1 always) and a blank doc would pack as a phantom
        // 1-token entry shifting every later offset in its shard
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          size(TextAnalysis.toks).cast("long").as("n_tokens"))
        .withColumn("shard", col("doc_id") % 8)
        .withColumn("off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("start_block", floor(col("off") / ctx))
        .withColumn("end_block",
          floor((col("off") + col("n_tokens") - 1) / ctx))
        .select(col("shard"), col("doc_id"), col("n_tokens"), col("off"),
          col("start_block"), col("end_block"))
        .orderBy("shard", "doc_id")
    }),

    // DS6: length-grouped batching — the padding-reduction trick for
    // PADDED batches (each sequence pads to its batch's max): sorting
    // a shard by token count before slicing fixed-size batches groups
    // like-sized docs, so per-batch max≈mean and the padded waste
    // collapses (vs doc_id order, where one long doc inflates a whole
    // batch). NOTE this is deliberately NOT ds3's concat-and-chunk
    // form — there, order doesn't change the boundary count; padding
    // is where length-sorting pays. The audit emits per-batch size,
    // tokens, max and padding; fully oracle-checked.
    "ds6_length_batching" -> ((s, d) => {
      val b = 32
      val w = Window.partitionBy("shard").orderBy("n_tokens", "doc_id")
      Tables.documents(s, d)
        // exclude truly blank docs: split() yields [""] for
        // whitespace-only text, so a token-count guard would be dead
        // (size >= 1 always) and a blank doc would pack as a phantom
        // 1-token entry shifting every later offset in its shard
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          size(TextAnalysis.toks).cast("long").as("n_tokens"))
        .withColumn("shard", col("doc_id") % 8)
        .withColumn("batch_id",
          floor((row_number().over(w) - 1) / b).cast("long"))
        .groupBy("shard", "batch_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("batch_tokens"),
          max(col("n_tokens")).as("max_len"))
        .withColumn("padding",
          col("n_docs") * col("max_len") - col("batch_tokens"))
        .orderBy("shard", "batch_id")
    }),

    // DS4: the shard write that ends the assembly pipeline — the
    // PIPE1-kept docs land as a dataset partitioned by shard with
    // size-bounded files (maxRecordsPerFile caps any one file no
    // matter how skewed a shard gets — at 100 TB that bound is what
    // keeps downstream readers' task sizes uniform). The query
    // round-trips: write, read back, report per-shard accounting;
    // the oracle recomputes the same accounting from the raw corpus,
    // so the filter → shard → write → read cycle is what's checked.
    "ds4_shard_write" -> ((s, d) => shardWrite(s, d, ds4Dir(s, d))),

    // DS5: mixture sampling — downweight/upweight sources to a target
    // mixture (the data-mixture step of training-set assembly: keep
    // fraction w(source) of each source's docs). Membership is a pure
    // function of doc_id: a 60-bit md5 prefix scaled to [0,1) against
    // the source's target fraction — deterministic, shuffle-free
    // (stateless filter; the only shuffle is the audit agg), identical
    // decision arithmetic in both engines. Weights here derive from
    // the source index (stand-in for a mixture config table).
    "ds5_mixture_sample" -> ((s, d) => {
      // try_cast: the weight derivation assumes srcN-style names —
      // a foreign source name must weight at the base 0.1, not throw
      // (TextDegenerateSpec screen)
      val idx = coalesce(
        expr("try_cast(substring(source, 4, 10) AS INT)"), lit(0))
      val w = lit(0.1) + lit(0.04) * (idx % 10).cast("double")
      val frac = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
          16, 10).cast("long").cast("double") /
        lit(1152921504606846976L).cast("double") // 2^60, exact as double
      Tables.documents(s, d)
        .withColumn("target_frac", w)
        .withColumn("kept", when(frac < col("target_frac"), 1L)
          .otherwise(0L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_in"), sum(col("kept")).as("n_kept"),
          max(col("target_frac")).as("target_frac"))
        .withColumn("realized_frac",
          col("n_kept").cast("double") / col("n_in"))
        .orderBy("source")
    }),

    // DS8: weighted sampling WITHOUT replacement — Efraimidis–Spirakis
    // A-ES (2006, public algorithm): each item draws uniform u and the
    // k largest u^(1/w) are the sample; equivalently the k largest
    // ln(u)/w, computed that way to avoid pow-underflow at large
    // weights. With u from the DS5 md5-prefix construction the whole
    // query is DETERMINISTIC → fully oracle-checkable — and the scale
    // shape is exactly O1: a stateless scored scan into a top-k
    // (TakeOrderedAndProject — per-partition heaps, no global sort).
    // Weight = doc token length: long docs preferentially sampled, the
    // token-budget-aware corpus draw. Distributional behavior (heavy
    // items overrepresented vs uniform) is spec-asserted.
    // DS9: per-group winsorization — the outlier treatment a feature
    // pipeline applies before normalization: clamp each value into its
    // OWN event type's exact [p05, p95] band and flag what was
    // clipped. The bounds are a |types|-row exact-percentile aggregate
    // broadcast back onto the stream — the big side never shuffles, the
    // clamp is a pure codegen projection (greatest/least). Interior
    // rows pass through as raw doubles (bit-identical by construction);
    // both engines' linear-interpolation percentiles agree to the last
    // ulp (a17/a25 established the parity), so clipped rows match raw
    // too.
    "ds9_winsorize" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val bounds = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.05)").as("lo"),
          expr("percentile(value, 0.95)").as("hi"))
      ev.join(broadcast(bounds), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          greatest(col("lo"), least(col("hi"), col("value")))
            .as("winsorized"),
          (col("value") < col("lo") || col("value") > col("hi"))
            .as("clipped"))
        .orderBy("event_id")
    }),

    // DS10: deterministic negative sampling — the contrastive-training
    // draw: 4 negatives per anchor doc, each a pure function of
    // (anchor, slot) via the shared md5 60-bit uniform (the DS5/DS8
    // hash), so the draw is reproducible across reruns, partitionings,
    // and engines — and fully oracle-checked. Self-collisions remap to
    // the next id (mod N). Precondition (asserted by the generated
    // corpus, min=0/max=N−1): doc_ids are contiguous, so floor(u·N)
    // IS a doc id and the negative fetch is a plain keyed join.
    // Scale: stateless explode + one broadcast count + one hash join;
    // nothing quadratic, no RNG state.
    "ds10_negative_sample" -> ((s, d) => {
      val K = 4
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val negs = docs.select(col("doc_id")).crossJoin(broadcast(n))
        .withColumn("j", explode(sequence(lit(0), lit(K - 1))))
        .withColumn("u",
          conv(substring(md5(concat(lit("ds10:"), col("j").cast("string"),
            lit(":"), col("doc_id").cast("string"))), 1, 15), 16, 10)
            .cast("long").cast("double") /
            lit(1152921504606846976.0))
        .withColumn("raw", floor(col("u") * col("n_docs")).cast("long"))
        .withColumn("neg_id",
          when(col("raw") === col("doc_id"),
            (col("raw") + 1) % col("n_docs")).otherwise(col("raw")))
      negs.join(docs.select(col("doc_id").as("neg_id"),
          col("source").as("neg_source")), Seq("neg_id"))
        .select(col("doc_id"), col("j").cast("long").as("slot"),
          col("neg_id"), col("neg_source"))
        .orderBy("doc_id", "slot")
    }),

    "ds8_weighted_sample" -> ((s, d) => {
      val u = conv(substring(md5(concat(lit("ds8:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long").cast("double") /
        lit(1152921504606846976L).cast("double") // 2^60, exact as double
      val w = size(org.apache.spark.sql.functions.split(
        lower(trim(col("text"))), "\\s+")).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), w.as("n_tokens"),
          (log(u) / w).as("key_raw"))
        .orderBy(col("key_raw").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("n_tokens"),
          round(col("key_raw"), 6).as("es_key"))
    })
  )

  /** One output dir per (session, source dir), reused across
    * invocations with mode=overwrite — repeated bench reps / verify
    * runs must not accumulate unbounded kept-corpus copies in /tmp. */
  private val ds4Dirs = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]
  private def ds4Dir(s: SparkSession, d: String): String =
    ds4Dirs.getOrElseUpdate((s, d), graft.Fs.scratch("ds4"))

  /** DS4 body with an explicit output dir and file bound so the spec
    * can inspect the produced layout (the query wraps it with the
    * session-scoped reused dir and the default bound; real pipelines
    * size the bound to the reader's task budget — ~10⁵–10⁶ rows). */
  private[operators] def shardWrite(s: SparkSession, d: String,
      out: String, maxRecordsPerFile: Int = 500): DataFrame = {
    Curation.filterDecisions(s, d)
      .filter(col("verdict") === "kept")
      .withColumn("shard", col("doc_id") % 8)
      .select(col("shard"), col("doc_id"), col("n_tokens"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .parquet(out)
    // explicit schema: a corpus whose every doc the filter drops
    // writes ZERO files, and inference on an empty dir throws
    // (TextDegenerateSpec screen) — the read-back must stay total
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.IntegerType)))
    s.read.schema(schema).parquet(out)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy("shard")
  }

  val oracles: Map[String, String] = Map(
    // DS21: the exhaustive exact-Jaccard corpus graph + recursive
    // closure (the d10b chain), then the identical weight algebra —
    // r6'd 1/|cluster| into a decimal-pinned sum, one division
    "ds21_dedup_weights" ->
      s"""WITH RECURSIVE
           ${Dedup.pairsCtes("", "0.5")},
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION SELECT db AS src, da AS dst FROM pairs),
           ${Dedup.reachCte("edges", "documents")},
           cc AS (SELECT id AS doc_id, min(r) AS canonical_id
                  FROM reach GROUP BY id),
           cs AS (SELECT canonical_id, count(*) AS cs
                  FROM cc GROUP BY 1),
           w AS (SELECT cc.doc_id, cs.cs,
                        round(CAST(1.0 AS DOUBLE) / cs.cs, 6) AS w
                 FROM cc JOIN cs USING (canonical_id))
         SELECT dd.source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN w.cs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_in_clusters,
                CAST(CAST(sum(CAST(w.w AS DECIMAL(24,10))) AS VARCHAR)
                     AS DOUBLE) AS n_effective,
                CAST(CAST(sum(CAST(w.w AS DECIMAL(24,10))) AS VARCHAR)
                     AS DOUBLE) / count(*) AS dedup_ratio
         FROM documents dd JOIN w ON w.doc_id = dd.doc_id
         GROUP BY 1 ORDER BY 1""",
    // Spark concat_ws(':', 7, doc_id) == '7:' || doc_id; shard is the
    // hash's first byte mod 8 (hex via the 0x-cast bridge)
    "ds7_epoch_shuffle" ->
      """WITH h AS (
           SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         sharded AS (
           SELECT doc_id, k,
                  ('0x' || substring(k, 1, 2))::BIGINT % 8 AS shard
           FROM h)
         SELECT doc_id, shard,
                row_number() OVER (PARTITION BY shard
                                   ORDER BY k, doc_id) AS pos
         FROM sharded ORDER BY shard, pos""",
    // the two-level rank (shard histogram prefix + per-shard
    // row_number) replayed literally; pure integer interleave math
    "ds19_interleave" ->
      s"""WITH base AS (
           SELECT source, doc_id,
                  md5('3:' || CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         sh AS (
           SELECT source, doc_id, k,
                  ('0x' || substring(k, 1, 2))::BIGINT AS shard
           FROM base),
         hist AS (
           SELECT source, shard,
                  coalesce(sum(count(*)) OVER (
                    PARTITION BY source ORDER BY shard
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS before
           FROM sh GROUP BY 1, 2),
         ranked AS (
           SELECT s.source, s.doc_id,
                  h.before + row_number() OVER (
                    PARTITION BY s.source, s.shard
                    ORDER BY s.k, s.doc_id) AS rank
           FROM sh s JOIN hist h ON s.source = h.source
                                AND s.shard = h.shard),
         $InterleaveSql""",
    // exhaustive corpus 0.5 graph + the ds1 md5 CASE per endpoint,
    // unordered split combination by least/greatest, BIGINT counts
    "ds22_leakage_audit" ->
      s"""WITH ${Dedup.pairsCtes("", "0.5")},
         sp AS (
           SELECT doc_id,
                  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                            < 'd'
                       THEN 'train' ELSE 'val' END AS sp
           FROM documents)
         SELECT least(sa.sp, sb.sp) AS split_a,
                greatest(sa.sp, sb.sp) AS split_b,
                CAST(count(*) AS BIGINT) AS n_pairs,
                least(sa.sp, sb.sp) <> greatest(sa.sp, sb.sp) AS is_leak
         FROM pairs p
         JOIN sp sa ON sa.doc_id = p.da
         JOIN sp sb ON sb.doc_id = p.db
         GROUP BY 1, 2 ORDER BY split_a, split_b""",
    // integer day-offset cutoffs (span·f // 5), conditional integer
    // counts — no date arithmetic past the datediff
    "ds20_rolling_origin" ->
      """WITH days AS (
           SELECT user_id, event_id, date_trunc('day', ts) AS day
           FROM events),
         b AS (
           SELECT min(day) AS mn,
                  CAST(datediff('day', min(day), max(day)) AS BIGINT)
                    AS span
           FROM days),
         spine AS (
           SELECT mn, CAST(f AS BIGINT) AS fold,
                  span * f // 5 AS train_end_off,
                  span * (f + 1) // 5 AS test_end_off
           FROM b, unnest([1, 2, 3, 4]) AS t(f)),
         tagged AS (
           SELECT s.fold, s.train_end_off, s.test_end_off, d.user_id,
                  CAST(datediff('day', s.mn, d.day) AS BIGINT) AS off
           FROM days d, spine s)
         SELECT fold, train_end_off, test_end_off,
                CAST(sum(CASE WHEN off <= train_end_off THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_train,
                CAST(sum(CASE WHEN off > train_end_off
                               AND off <= test_end_off THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_test,
                CAST(count(DISTINCT CASE WHEN off <= train_end_off
                                         THEN user_id END) AS BIGINT)
                  AS train_users,
                CAST(count(DISTINCT CASE WHEN off > train_end_off
                                          AND off <= test_end_off
                                         THEN user_id END) AS BIGINT)
                  AS test_users
         FROM tagged GROUP BY 1, 2, 3 ORDER BY fold""",
    // the two-level rank collapses to the direct per-bin permutation
    // rank; identical integer binning and min-bin target
    "ds18_balance_lengths" ->
      """WITH base AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                       AS BIGINT) AS n_tok,
                  md5('ds18:' || CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         rng AS (SELECT min(n_tok) AS tmin, max(n_tok) AS tmax
                 FROM base),
         b AS (
           SELECT doc_id, n_tok, k,
                  ((n_tok - tmin) * 10) // (tmax - tmin + 1) AS bin
           FROM base, rng),
         r AS (
           SELECT doc_id, n_tok, bin,
                  row_number() OVER (PARTITION BY bin ORDER BY k, doc_id)
                    AS rnk
           FROM b),
         m AS (
           SELECT min(nb) AS m
           FROM (SELECT bin, count(*) AS nb FROM b GROUP BY 1))
         SELECT doc_id, n_tok, bin
         FROM r, m WHERE rnk <= m.m ORDER BY doc_id""",
    // the two-level rank collapses to a plain per-stratum permutation
    // rank — DuckDB can afford the direct window; integer floor-div
    // thresholds are exact on both engines
    "ds17_stratified_split" ->
      """WITH h AS (
           SELECT doc_id, lang, source,
                  md5('ds17:' || CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         r AS (
           SELECT doc_id, lang, source,
                  row_number() OVER (PARTITION BY lang, source
                                     ORDER BY k, doc_id) AS rnk,
                  count(*) OVER (PARTITION BY lang, source) AS n
           FROM h)
         SELECT doc_id, lang, source,
                CASE WHEN rnk <= (n * 8) // 10 THEN 'train'
                     WHEN rnk <= (n * 9) // 10 THEN 'val'
                     ELSE 'test' END AS split
         FROM r ORDER BY doc_id""",
    "ds11_kfold" ->
      """WITH tagged AS (
           SELECT user_id, event_type,
                  CAST(least(floor(
                    (('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                        1, 15))::BIGINT
                     / CAST(1152921504606846976 AS DOUBLE)) * 5),
                    4) AS INT) AS fold
           FROM events),
         tot AS (SELECT count(*) AS n_total FROM tagged),
         f AS (
           SELECT fold, count(*) AS n_test,
                  count(DISTINCT user_id) AS n_users,
                  round(CAST(sum(CASE WHEN event_type = 'click'
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                        / count(*), 6) AS click_share
           FROM tagged GROUP BY 1)
         SELECT fold, n_test, CAST(tot.n_total - n_test AS BIGINT)
                  AS n_train, n_users, click_share
         FROM f, tot ORDER BY fold""",
    "ds12_temperature_mix" ->
      """WITH counts AS (
           SELECT source, count(*) AS n_in FROM documents GROUP BY 1),
         tot AS (
           SELECT CAST(sum(n_in) AS BIGINT) AS n,
                  CAST(CAST(sum(CAST(pow(CAST(n_in AS DOUBLE), 0.7)
                       AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS z
           FROM counts),
         targets AS (
           SELECT source, n_in,
                  CAST(n_in AS DOUBLE) / tot.n AS p_nat,
                  pow(CAST(n_in AS DOUBLE), 0.7) / tot.z AS q_temp,
                  round(least(CAST(1 AS DOUBLE),
                    (pow(CAST(n_in AS DOUBLE), 0.7) / tot.z) *
                    (CAST(tot.n AS DOUBLE) / 2) / n_in), 6) AS keep_frac
           FROM counts, tot),
         tagged AS (
           SELECT d.source,
                  CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                              1, 15))::BIGINT
                        / CAST(1152921504606846976 AS DOUBLE)
                        < t.keep_frac
                       THEN 1 ELSE 0 END AS kept
           FROM documents d JOIN targets t USING (source)),
         k AS (
           SELECT source, CAST(sum(kept) AS BIGINT) AS n_kept
           FROM tagged GROUP BY 1)
         SELECT t.source, t.n_in, k.n_kept,
                round(t.p_nat, 6) AS p_nat,
                round(t.q_temp, 6) AS q_temp,
                t.keep_frac
         FROM targets t JOIN k USING (source)
         ORDER BY t.source""",
    // d10's recursive closure + the DS1 split CASE on the component id
    "ds13_cluster_split" ->
      s"""WITH RECURSIVE
           ${Dedup.pairsCtes(" WHERE doc_id < 100", "0.02")},
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION SELECT db AS src, da AS dst FROM pairs),
           ${Dedup.reachCte("edges", "docs")},
           cc AS (SELECT id AS doc_id, min(r) AS canonical_id
                  FROM reach GROUP BY id)
         SELECT doc_id, canonical_id,
                CASE WHEN substring(md5(CAST(canonical_id AS VARCHAR)), 1, 1)
                       < 'd'
                     THEN 'train' ELSE 'val' END AS split
         FROM cc ORDER BY doc_id""",
    "ds1_hash_split" ->
      """WITH tagged AS (
           SELECT user_id,
                  CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < 'd'
                       THEN 'train' ELSE 'val' END AS split
           FROM events)
         SELECT split, count(*) AS n_rows,
                count(DISTINCT user_id) AS n_users
         FROM tagged GROUP BY split ORDER BY split""",
    // the same seeded-md5 permutation, per-source running token sum,
    // greedy keep while <= 500
    "ds16_token_budget" ->
      """WITH t AS (
           SELECT source, doc_id,
                  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
                  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    ::BIGINT AS h
           FROM documents),
         c AS (
           SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
                  sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_tok
           FROM t)
         SELECT source, doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
         FROM c WHERE cum_tok <= 500 ORDER BY source, cum_tok""",
    "ds2_balanced_sample" ->
      """SELECT event_id, event_type, value FROM (
           SELECT event_id, event_type, value,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
           FROM events)
         WHERE rn <= 100
         ORDER BY event_type, event_id""",
    "ds15_curriculum" ->
      """WITH scored AS (
           SELECT doc_id,
                  CAST(len(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    t -> t IN ('the','a','of','and','to','in','is','on')))
                    AS DOUBLE)
                  / len(string_split_regex(lower(trim(text)), '\s+'))
                    AS score
           FROM documents),
         n AS (SELECT count(*) AS n FROM scored),
         r AS (
           SELECT doc_id, score,
                  row_number() OVER (ORDER BY score, doc_id) AS rnk
           FROM scored)
         SELECT doc_id, round(score, 6) AS score,
                CAST((rnk - 1) * 10 // n + 1 AS BIGINT) AS bucket
         FROM r, n ORDER BY doc_id""",
    "ds14_chunk_overlap" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents WHERE length(trim(text)) > 0),
         starts AS (
           SELECT doc_id, t,
                  unnest(generate_series(0, len(t) - 1, 48)) AS s
           FROM docs)
         SELECT doc_id,
                CAST(s // 48 AS BIGINT) AS chunk_idx,
                CAST(s AS BIGINT) AS start_tok,
                CAST(len(t[s + 1 : least(s + 64, len(t))]) AS BIGINT)
                  AS n_tok,
                array_to_string(t[s + 1 : least(s + 64, len(t))], ' ')
                  AS chunk_text
         FROM starts ORDER BY doc_id, chunk_idx""",
    "ds3_sequence_pack" ->
      """WITH docs AS (
           SELECT doc_id, doc_id % 8 AS shard,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                    AS BIGINT) AS n_tokens
           FROM documents WHERE length(trim(text)) > 0),
         packed AS (
           SELECT shard, doc_id, n_tokens,
                  CAST(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS off
           FROM docs)
         SELECT shard, doc_id, n_tokens, off,
                off // 512 AS start_block,
                (off + n_tokens - 1) // 512 AS end_block
         FROM packed ORDER BY shard, doc_id""",
    "ds6_length_batching" ->
      """WITH docs AS (
           SELECT doc_id, doc_id % 8 AS shard,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                    AS BIGINT) AS n_tokens
           FROM documents WHERE length(trim(text)) > 0),
         ranked AS (
           SELECT shard, doc_id, n_tokens,
                  (row_number() OVER (PARTITION BY shard
                     ORDER BY n_tokens, doc_id) - 1) // 32 AS batch_id
           FROM docs)
         SELECT shard, batch_id, count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS batch_tokens,
                max(n_tokens) AS max_len,
                count(*) * max(n_tokens) - CAST(sum(n_tokens) AS BIGINT)
                  AS padding
         FROM ranked GROUP BY shard, batch_id
         ORDER BY shard, batch_id""",
    "ds4_shard_write" ->
      s"""WITH ${Curation.FilterSignalCtes},
         kept AS (
           SELECT doc_id, n FROM sig
           WHERE NOT (n < 10)
             AND NOT (mean_len < 3.0 OR mean_len > 10.0)
             AND NOT (top_frac > 0.2)
             AND NOT (dup_frac > 0.2))
         SELECT doc_id % 8 AS shard, count(*) AS n_docs,
                CAST(sum(n) AS BIGINT) AS n_tokens
         FROM kept GROUP BY 1 ORDER BY 1""",
    "ds5_mixture_sample" ->
      """WITH tagged AS (
           SELECT source,
                  CAST(0.1 AS DOUBLE) + CAST(0.04 AS DOUBLE) *
                    (coalesce(TRY_CAST(substring(source, 4) AS INT), 0)
                     % 10) AS target_frac,
                  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                    / CAST(1152921504606846976 AS DOUBLE) AS frac
           FROM documents)
         SELECT source, count(*) AS n_in,
                CAST(sum(CASE WHEN frac < target_frac THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
                max(target_frac) AS target_frac,
                CAST(sum(CASE WHEN frac < target_frac THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS realized_frac
         FROM tagged GROUP BY source ORDER BY source""",
    "ds8_weighted_sample" ->
      """WITH scored AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                    AS BIGINT) AS n_tokens,
                  ('0x' || substring(md5('ds8:' || CAST(doc_id AS VARCHAR)),
                     1, 15))::BIGINT
                    / CAST(1152921504606846976 AS DOUBLE) AS u
           FROM documents)
         SELECT doc_id, n_tokens, round(ln(u) / n_tokens, 6) AS es_key
         FROM scored
         ORDER BY ln(u) / n_tokens DESC, doc_id LIMIT 100""",
    "ds10_negative_sample" ->
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
         negs AS (
           SELECT d.doc_id, j.range AS slot,
                  ('0x' || substring(md5('ds10:' || CAST(j.range AS VARCHAR)
                     || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                    / CAST(1152921504606846976 AS DOUBLE) AS u,
                  n_docs
           FROM documents d, range(0, 4) j, n),
         m AS (
           SELECT doc_id, slot,
                  CAST(floor(u * n_docs) AS BIGINT) AS raw, n_docs
           FROM negs),
         picked AS (
           SELECT doc_id, slot,
                  CASE WHEN raw = doc_id THEN (raw + 1) % n_docs
                       ELSE raw END AS neg_id
           FROM m)
         SELECT p.doc_id, p.slot, p.neg_id, d2.source AS neg_source
         FROM picked p JOIN documents d2 ON p.neg_id = d2.doc_id
         ORDER BY p.doc_id, p.slot""",
    "ds9_winsorize" ->
      """WITH b AS (
           SELECT event_type,
                  quantile_cont(value, 0.05) AS lo,
                  quantile_cont(value, 0.95) AS hi
           FROM events GROUP BY event_type)
         SELECT event_id, e.event_type, value,
                greatest(lo, least(hi, value)) AS winsorized,
                (value < lo OR value > hi) AS clipped
         FROM events e JOIN b ON e.event_type = b.event_type
         ORDER BY event_id"""
  )
}
