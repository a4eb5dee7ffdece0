package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.Tables

/** Scalable near-duplicate detection: MinHash + LSH banding and
  * SimHash signatures over `documents.text`.
  *
  * This is the 100 TB dedup path (exact + Jaccard live in
  * TextAnalysis): shingle → 32 minhashes → 8 bands × 4 rows →
  * bucket equi-join for candidates → signature-estimated Jaccard.
  * Every stage is a hash shuffle on a bounded key — no all-pairs
  * comparison anywhere. The i-th hash of the family is a SEEDED
  * built-in hash — `xxhash64(lit(i), shingle)` — codegen'd,
  * deterministic, and overflow-free (Spark 4 runs ANSI mode by
  * default, so affine `a*h + b` arithmetic would throw
  * ARITHMETIC_OVERFLOW instead of wrapping).
  *
  * Oracle: xxhash64 has no DuckDB equivalent, but since round 12 the
  * hash tables are DUMPED (D3SigDump/D8SumsDump) and the DuckDB twins
  * replay banding + bucket joins + estimates + exact verify from the
  * dump — full hash checks for d3/d4/d6/d8; only the seeded hashing
  * itself rests on DedupSpec's behavioral anchors (identical docs
  * collide, disjoint docs don't, estimate tracks true Jaccard).
  */
object Dedup {

  private val NumHashes = 32
  private val Bands = 8
  private val RowsPerBand = NumHashes / Bands

  /** Materialized-intermediate oracle dumps (the D16 pattern, round
    * 12): xxhash64 itself has no DuckDB twin, but everything AFTER
    * the hashes — banding, bucket join, estimate, exact verify,
    * thresholding — is integer/SQL arithmetic. Each query writes its
    * memoized hash table to a fixed parquet path and reads it back
    * (so the engine consumes byte-for-byte what the oracle reads),
    * and the DuckDB twin replays the entire candidate+verify pipeline
    * from the dump. The hash check then certifies the whole decision
    * path, leaving only the seeded hashing itself to the spec anchors.
    * The paths are keyed by the sf-dir basename (see [[Dumps]] — the
    * oracle side embeds the placeholder tag that graft.Verify
    * resolves), so the driver's interleaved sf0.01 correctness pass
    * and sf0.1 bench can never clobber each other's dumps. (This
    * holds for every graft_* dump: D16EdgeDump, Sim2BandDump,
    * PValDump, CellDump, F7VaderDump, T7FoldDump.) */
  private[operators] def D3SigDump(d: String) = Dumps.path("d3_sigs", d)
  private[operators] def D8SumsDump(d: String) = Dumps.path("d8_sums", d)

  /** The write-once [[D3SigDump]] read back (d3, d6, decon2). */
  private[operators] def sigDump(s: SparkSession, d: String): DataFrame =
    Dumps.writeOnce(s, D3SigDump(d))(signatures(s, d))

  /** The write-once [[D8SumsDump]] read back (d4, d8, d29). */
  private def sumsDump(s: SparkSession, d: String): DataFrame =
    Dumps.writeOnce(s, D8SumsDump(d))(simhashBitSums(s, d))

  private def toks: Column = TextAnalysis.toks

  /** Distinct 3-token shingles per doc. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("t")) - 3),
          i => concat_ws(" ",
            element_at(col("t"), i + 1),
            element_at(col("t"), i + 2),
            element_at(col("t"), i + 3))))).as("sh"))

  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(Tables.documents(s, d))

  /** MinHash signatures: doc_id, sig array<long>(32).
    * The i-th family member is xxhash64 seeded with i (extra column) —
    * min over distinct shingles per doc, all inside one hash agg. */
  private def signaturesPlan(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val mins: Seq[Column] = (0 until NumHashes).map(i =>
      min(xxhash64(lit(i), col("sh"))).as(s"m$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Signatures, materialized once per (session, dir): the banding
    * query (D3) and the verified pipeline (D6) consume the SAME
    * signature table, and the shingle-explode + 32-min corpus pass is
    * by far the dominant cost of both. Lifecycle (validity while the
    * dir is immutable, explicit invalidation, executor-loss recompute)
    * is [[graft.MaterializedTable]]'s contract; Bench times the build
    * as its own `sig_build` entry. */
  val signatures = graft.MaterializedTable("sig_build")(signaturesPlan)

  /** LSH candidate pairs + signature-estimated Jaccard ≥ minEst. */
  def minhashPairs(sigs: DataFrame, minEst: Double): DataFrame = {
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until Bands).map { j =>
        val bandCols = (0 until RowsPerBand)
          .map(r => col("sig").getItem(j * RowsPerBand + r))
        struct(lit(j).as("band"),
          xxhash64(concat_ws(",", bandCols: _*)).as("bk"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("sig"),
        col("b.band").as("band"), col("b.bk").as("bk"))
    val a = banded.alias("a"); val b = banded.alias("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .dropDuplicates("da", "db")
    cand
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          bb => bb)).cast("double") / NumHashes)
      .filter(col("est_jaccard") >= minEst)
      .select(col("da"), col("db"), r6(col("est_jaccard")).as("est_jaccard"))
  }

  /** The existing-corpus Bloom binary for (session, dir), built once
    * and reused by every d7_bloom_new probe — the production shape is
    * one index build amortized over every incoming batch, same
    * lifecycle contract as [[signatures]] (valid while the dir is
    * immutable; `invalidate` refreshes, and there is nothing to
    * release — the bytes are plain driver heap). ~200 KB on the
    * driver (1.6 M bits), sized for ≲10⁵ existing hashes. Bench times
    * the build as `bloom_build`. */
  private[graft] val bloom = graft.MaterializedTable.of("bloom_build") {
    (s, d) =>
      val bf = new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("text"))),
        Literal(100000L), Literal(1600000L), 0, 0).toAggregateExpression()
      // the aggregate evals to NULL over an empty corpus (first-ever
      // ingest) — surface that as None, not a null binary
      Option(Tables.documents(s, d)
        .filter(col("doc_id") % 4 =!= 0)
        .select(ColumnBridge.column(bf).as("bf"))
        .head().getAs[Array[Byte]](0))
  }((_, _) => ())

  /** Banded Hamming pair search over a 64-bit signature column — the
    * shared engine of D8 (simhash) and MM5 (perceptual hash): explode
    * each id into `bands` fixed-width bit slices, equi-join on
    * (band, slice value), verify with ONE codegen popcount per
    * collision BEFORE the dedup shuffle (so only surviving pairs
    * shuffle), and keep pairs at Hamming ≤ maxDist. Pigeonhole
    * completeness: pairs within `bands − 1` differing bits cannot
    * differ in every band, so the join has perfect recall whenever
    * maxDist ≤ bands − 1 (both callers' specs assert set equality
    * against exhaustive recomputations).
    *
    * @param sig (id, hash) rows — hash is the packed 64-bit signature
    */
  private[operators] def hammingPairs(sig: DataFrame, id: String,
      hash: String, bands: Int, maxDist: Int): DataFrame = {
    require(maxDist <= bands - 1, "banding incomplete for this radius")
    // Uneven band widths (round 15, guide §2.3/§3): pigeonhole only
    // needs bands ≥ maxDist+1, and CANDIDATE volume per band scales as
    // 2^-width, so the cheapest complete geometry for a radius-R
    // search is exactly R+1 bands with the 64 bits split as evenly as
    // possible (the first 64 mod bands bands carry one extra bit).
    // For the even splits every prior caller uses (16/8/4 bands) the
    // (band, bucket) keys below are bit-identical to the old
    // fixed-width form; recall is complete for ANY widths summing to
    // 64: two hashes within Hamming maxDist differ in ≤ maxDist bands,
    // so at least one of the bands ≥ maxDist+1 matches exactly.
    val widths = (0 until bands).map(b =>
      if (b < 64 % bands) 64 / bands + 1 else 64 / bands)
    val offsets = widths.scanLeft(0)(_ + _)
    // materialize the signature table ONCE before the self-join: both
    // aliases below would otherwise re-execute the entire signature
    // subtree (for MM5 the full corpus hash, for D8 the token-explode
    // bit-sum aggregate — the dominant cost of either query). The
    // 100 TB analogue is persisting the signature table before the
    // pair search, exactly as D6 persists its candidate table. An
    // input that is ALREADY persisted (the memoized MM5c hash table)
    // is reused as-is — re-checkpointing it would add a pointless
    // materialization job to every search. The checkpoint's blocks
    // live until session end (the returned DataFrame consumes them
    // lazily, so there is no release point inside this function) —
    // one signature-table copy per search invocation, bounded and
    // small; long-lived sessions wanting zero growth should memoize
    // the signature input (the MM5c pattern) so this branch is a
    // no-op.
    val sigOnce =
      if (sig.storageLevel != org.apache.spark.storage.StorageLevel.NONE) sig
      else sig.localCheckpoint()
    val banded = sigOnce.select(col(id).as("doc_id"), col(hash).as("sh"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col(hash), offsets(b))
            .bitwiseAND(lit((1L << widths(b)) - 1))
            .as("bk"))): _*)).as("b"))
      .select(col("doc_id"), col("sh"),
        col("b.band").as("band"), col("b.bk").as("bk"))
    val a = banded.alias("a"); val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("da", "db")
      .orderBy("da", "db")
  }

  /** D10's engine: connected components over a near-dup pair graph by
    * iterative MIN-LABEL PROPAGATION — the missing last stage of every
    * dedup pipeline (D2/D3/D8 emit PAIRS; the keep/drop decision needs
    * CLUSTERS, because near-duplication is transitive: A≈B and B≈C
    * must collapse to one canonical even when A≈C was never scored).
    *
    * Each iteration: every vertex offers its current component label
    * to its neighbors through one edge equi-join, labels fold with a
    * min() hash agg, and the loop stops at the first fixpoint. This
    * is the standard distributed-CC shape (what GraphX/GraphFrames
    * run): rounds ≈ the cluster diameter (tiny for dup graphs — near
    * complete subgraphs), every round is a keyed hash join + hash
    * agg, nothing ever materializes the transitive closure.
    * localCheckpoint per round truncates the lineage a loop would
    * otherwise stack (at cluster scale: reliable checkpoint). This is
    * not optional: `next` references `labels` twice (the edge join and
    * the union), so without truncation the logical plan DOUBLES every
    * round — the driver dies building exponential plan strings long
    * before any executor struggles. Superseded rounds' blocks are
    * released by the ContextCleaner once unreferenced; the pinned
    * volume is bounded by diameter × |V| label rows. The driver-side
    * convergence count is one tiny job per round over
    * O(vertices-in-pairs) rows. The iteration cap is a runaway guard:
    * label propagation converges in ≤ diameter rounds and
    * diameter < |V|; hitting the cap throws rather than silently
    * shipping unconverged components.
    *
    * @param pairs    (da, db) near-dup pairs (undirected edges)
    * @param vertices (doc_id) — every doc in scope; docs in no pair
    *                 come out as their own singleton component
    * @return (labels (doc_id, comp), rounds to converge: propagation
    *         rounds + the final fixpoint confirmation — the "rounds ≈
    *         cluster diameter" claim, measured by DedupSpec)
    */
  private[operators] def connectedComponents(pairs: DataFrame,
      vertices: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.storage.StorageLevel
    // persisted PRE-PARTITIONED on the join key (round 15, the
    // pageRank treatment): the per-round offer join reuses the cached
    // hash partitioning instead of re-exchanging the edge table every
    // round
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .union(pairs.select(col("db").as("src"), col("da").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // every vertex iterates, isolated ones included: round 14 measured
    // iterating over edge endpoints only (plus a final left join for
    // the isolated rest) slower at sf0.1 (d24 1.4 → 2.2 s, d27 0.9 →
    // 1.9 s, d11_pr_corpus 3.6 → 4.2 s).
    // eager localCheckpoint per round: each `labels` is a flat scan of
    // materialized blocks, so every round's plan is O(1) regardless of
    // how many rounds the diameter demands
    var labels = vertices.select(col("doc_id"), col("doc_id").as("comp"))
      .localCheckpoint()
    // convergence bound from the input itself: propagation needs at
    // most diameter rounds and diameter < |V| — a fixed literal cap
    // would reject long-but-convergent chains. Computed LAZILY (round
    // 14, guide §2.4): the count job only runs if a call exceeds 32
    // rounds, so every real corpus graph (diameter ≈ 3) never pays it.
    var cap = -1L
    var iter = 0L
    var result: DataFrame = null
    while (result == null) {
      // change detection WITHOUT the per-round join (round 14, guide
      // §2.4): each label row carries its own comp as `prev` (offered
      // rows a typed NULL, which min() ignores — exactly one labels
      // row per vertex exists every round, so min(prev) IS the old
      // comp), and the fixpoint test becomes a flat filter over the
      // checkpointed blocks instead of a join of two label frames.
      val offered = edges.join(labels, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), col("comp"),
          when(lit(false), col("comp")).as("prev"))
      val next = labels
        .select(col("doc_id"), col("comp"), col("comp").as("prev"))
        .unionByName(offered)
        .groupBy("doc_id")
        .agg(min(col("comp")).as("comp"), min(col("prev")).as("prev"))
        .localCheckpoint()
      val changed = next.filter(col("comp") =!= col("prev")).count()
      if (changed == 0) {
        result = next.select(col("doc_id"), col("comp"))
        edges.unpersist()
      } else {
        labels = next.select(col("doc_id"), col("comp"))
        iter += 1
        if (iter >= 32) {
          if (cap < 0) cap = vertices.count() + 2
          require(iter < cap, "label propagation failed to converge")
        }
      }
    }
    (result, iter + 1)
  }

  /** Micro-units per unit of total rank mass (the fixed-point grid). */
  private[graft] val PrUnit = 1000000000000000L

  /** D11 iterative kernel: damped PageRank by power iteration over the
    * undirected near-dup graph — the centrality signal a rank-weighted
    * canonical election uses where D10's min-id election is arbitrary.
    * Fixed iteration count (rank deltas decay geometrically at damp =
    * 0.85; 10 rounds ≫ convergence on dup-cluster diameters), each
    * round one keyed join + hash agg with an eager localCheckpoint so
    * round k's plan stays O(1) (the D10 lineage-truncation pattern).
    * Isolated vertices hold the bare teleport term — dangling mass is
    * NOT redistributed (documented convention, mirrored exactly by the
    * spec's sequential recomputation). |V| is one bounded driver
    * scalar (the teleport constant), same contract as the IVF rig.
    *
    * Determinism contract (round 11 — what flips D11 from rows-only
    * to hash-checked): the iteration runs in FIXED-POINT INTEGER
    * arithmetic — rank carried as micro-units of 1e-15 total mass
    * (BIGINT), damp as the /100 rational its 0.01-grid contract
    * states (0.85 → 85), every division an integral `div` (both
    * operands nonnegative, so Spark's truncating `div` ≡ DuckDB's
    * flooring `//`), every reduction an exact integer sum. Zero
    * float reductions means zero decimal-pin tie lottery: a first
    * cut pinned the contribution sums on the decimal(38,12) grid,
    * and the dense demo graph promptly hit the half-grid boundary
    * (ranks there live NEAR short decimal grids — 1/n, /deg, ×0.85
    * chains — exactly the structured-value regime the W28 flip
    * documented; one sf0.001 row split shortest-repr vs true-binary
    * at 8.5e-13). Integers cannot split. The only float op left is
    * the final render rank = r/1e15, exact for r ≤ 1e15 < 2^53, so
    * ten unrolled rounds replay bit-identically as chained DuckDB
    * CTEs (the d14b unrolling extended to weighted state). Floor
    * error: < deg(v)+2 units (1e-15) per vertex-round — the spec
    * anchors' sequential DOUBLE power iteration agrees ≤ 1e-9, and
    * the teleport floor for isolated vertices is exactly
    * ((100−d)·M) div (100·n) units. Dangling remainder mass simply
    * drops (each floor discards < 1 unit), keeping total mass ≤ 1 —
    * the same convention production fixed-point graph engines use
    * to make distributed float nondeterminism a non-issue. */
  private[operators] def pageRank(pairs: DataFrame, vertices: DataFrame,
      iters: Int, damp: Double): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // damp on its 0.01-grid contract (0.85 → 85/100)
    val dampNum = math.round(damp * 100)
    require(dampNum > 0 && dampNum < 100, s"damp out of (0,1): $damp")
    require(iters >= 1, s"pageRank needs >= 1 iteration, got $iters")
    // Degree is STATIC: pre-join it into the edge table ONCE (round
    // 14, guide §2.4 — the per-round deg join was a whole redundant
    // shuffle+join each iteration at any scale).
    val edgesRaw = pairs.select(col("da").as("src"), col("db").as("dst"))
      .union(pairs.select(col("db").as("src"), col("da").as("dst")))
    val deg = edgesRaw.groupBy("src").agg(count(lit(1)).as("deg"))
    // persisted PRE-PARTITIONED on the join key: the per-round
    // contribution join then reuses the cached hash partitioning for
    // the edge side instead of re-exchanging it every round (round
    // 15, guide §2.4 — InMemoryRelation preserves outputPartitioning)
    val edges = edgesRaw.join(deg, "src")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (the active-vertex endpoint restriction was measured slower at
    // sf0.1 — see the connectedComponents round-14 note)
    val n = vertices.count()
    val tInt = ((100L - dampNum) * PrUnit) / (100L * n)
    // Zero-contribution vertex rows, materialized ONCE: unioned into
    // the per-round aggregation they restore every vertex (isolated
    // ones included) inside the SAME shuffle that folds the neighbor
    // contributions — round 14's shape instead re-scanned and
    // re-shuffled `vertices` and ran a whole left join EVERY round
    // (round 15, guide §2.4: left-join-with-default ≡ union-zero +
    // agg, exactly one zero row per vertex so the integer sums are
    // unchanged; edges are between `vertices` only, so the old join
    // filtered nothing).
    val zeros = vertices.select(col("doc_id"), lit(0L).as("c"))
      .localCheckpoint()
    // (a per-round broadcast(ranks) was measured SLOWER here — slice
    // 2.31 vs 2.34 s flat, corpus 3.1 → 4.0-4.3 s: each round adds a
    // broadcast-build job + driver collect, and at true corpus scale
    // the rank table must not collect to the driver at all — so the
    // contribution join stays keyed on both sides.)
    var ranks = vertices.select(col("doc_id"), lit(PrUnit / n).as("r"))
      .localCheckpoint()
    for (i <- 1 to iters) {
      val contrib = edges.join(ranks, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), expr("r div deg").as("c"))
      ranks = contrib.union(zeros)
        .groupBy("doc_id").agg(sum(col("c")).as("cs"))
        .select(col("doc_id"),
          (lit(tInt) + expr(s"($dampNum * cs) div 100")).as("r"))
      // truncate lineage every SECOND round (and on the last): unlike
      // the CC loop, `ranks` is referenced exactly ONCE per round, so
      // the un-truncated plan grows LINEARLY, not exponentially — a
      // 2-round window keeps plans bounded at two join/agg layers
      // while halving the eager materialization jobs. Measured at
      // sf0.1: ~10% (4.9 → 4.4 s; re-confirmed 5.9 → 5.3 s isolated
      // back-to-back on a slower machine) — the residual cost is
      // fixed per-round job scheduling, which only fewer ROUNDS (not
      // fewer checkpoints) would remove, and the round count is the
      // documented convergence contract.
      if (i % 2 == 0 || i == iters) ranks = ranks.localCheckpoint()
    }
    edges.unpersist()
    // the ONE float op: exact for r ≤ PrUnit < 2^53 on both engines
    ranks.select(col("doc_id"),
      (col("r").cast("double") / lit(1.0e15)).as("rank"))
  }

  /** D14's engine: synchronous label propagation (Raghavan et al.
    * 2007) over the undirected pair graph — community detection as
    * the third canonical-election strategy next to D10's min-id and
    * D11's rank-weighted election. Each round every vertex adopts the
    * most frequent label among its neighbors PLUS ITSELF (the
    * self-vote breaks the classic 2-node synchronous oscillation and
    * makes cliques converge in one round), ties to the smallest
    * label — fully deterministic, no RNG. Per round: one keyed join +
    * hash agg + ranking window, all shuffling on the vertex key;
    * eager localCheckpoint keeps round k's plan O(1) (the D10/D11
    * lineage-truncation pattern). Labels are exact integers, so the
    * spec's sequential recomputation matches bit-for-bit. */
  private[operators] def labelPropagation(pairs: DataFrame,
      vertices: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.expressions.Window
    // pre-partitioned on the join key, as in connectedComponents
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .union(pairs.select(col("db").as("src"), col("da").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (the active-vertex endpoint restriction was measured slower at
    // sf0.1 — see the connectedComponents round-14 note)
    var labels = vertices.select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val votes = edges.join(labels, col("src") === col("doc_id"))
        .select(col("dst"), col("label"))
        .union(labels.select(col("doc_id").as("dst"), col("label")))
      val w = Window.partitionBy("dst")
        .orderBy(col("n").desc, col("label").asc)
      val best = votes.groupBy("dst", "label").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("dst").as("doc_id"), col("label"))
      labels = best.localCheckpoint()
    }
    edges.unpersist()
    labels
  }

  /** D23's shell kernel: exact distance-1/2/3 shell counts + the
    * truncated harmonic fold over an undirected (da, db) pair table.
    * Factored out so the spec can drive the shell logic on planted
    * path graphs — the clique-structured corpus never exercises
    * distance > 1. */
  private[graft] def harmonicShells(pairTable: DataFrame): DataFrame = {
    val p = pairTable.localCheckpoint()
    val dir = p.select(col("da").as("v"), col("db").as("u"))
      .unionAll(p.select(col("db").as("v"), col("da").as("u")))
      .distinct().localCheckpoint()
    val hop = dir.select(col("v").as("hv"), col("u").as("hu"))
    val r1 = dir
    val r2 = r1.join(hop, r1("u") === hop("hv"))
      .select(r1("v"), hop("hu").as("u")).distinct()
      .filter(col("u") =!= col("v"))
      .join(r1, Seq("v", "u"), "left_anti").localCheckpoint()
    val r3 = r2.join(hop, r2("u") === hop("hv"))
      .select(r2("v"), hop("hu").as("u")).distinct()
      .filter(col("u") =!= col("v"))
      .join(r2, Seq("v", "u"), "left_anti")
      .join(r1, Seq("v", "u"), "left_anti").localCheckpoint()
    def cnt(r: DataFrame, name: String) =
      r.groupBy("v").agg(count(lit(1)).as(name))
    cnt(r1, "n1")
      .join(cnt(r2, "n2"), Seq("v"), "left")
      .join(cnt(r3, "n3"), Seq("v"), "left")
      .na.fill(0L, Seq("n2", "n3"))
      .select(col("v").as("doc_id"), col("n1"), col("n2"), col("n3"),
        (col("n1").cast("double") + col("n2").cast("double") / 2 +
          col("n3").cast("double") / 3).as("harmonic"))
  }

  /** D24's kernel: Newman–Girvan modularity decomposed per community
    * over an undirected (da, db) pair table + a (doc_id, label)
    * assignment — q_c = l_c/m − (d_c/(2m))², where l_c counts
    * intra-community edges, d_c sums member degrees (intra edges
    * twice + boundary edges once) and m is the total edge count.
    * Inputs are exact integers, the per-row chain is two identical
    * IEEE divisions, one self-multiply and one subtraction — fixed
    * shape per ROW (the A95 convention: no cross-community float sum
    * ever happens inside the operator; a caller folding Σq_c does so
    * over the emitted rows). Factored out so the spec can drive the
    * kernel on a planted two-triangle bridge graph where communities
    * have BOUNDARY edges (d_c ≠ 2·l_c) — the clique-structured corpus
    * never exercises that term. Only graph members emit rows
    * (isolated docs are singleton communities with q = 0, excluded
    * like D13's deg < 2). */
  private[graft] def modularityBlocks(pairTable: DataFrame,
      labels: DataFrame): DataFrame = {
    val p = pairTable.localCheckpoint()
    val deg = p.select(col("da").as("doc_id"))
      .unionAll(p.select(col("db").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    // materialized once (round 14): three subtrees consume mem (the
    // community totals and both endpoint label attachments), and the
    // labels input is itself a lazy kernel-assembly join
    val mem = labels.join(deg, Seq("doc_id")).localCheckpoint()
    val m = p.agg(count(lit(1)).as("m"))
    val dTot = mem.groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_total"))
    val lIntra = p
      .join(mem.select(col("doc_id").as("da"), col("label").as("lab_a")),
        Seq("da"))
      .join(mem.select(col("doc_id").as("db"), col("label").as("lab_b")),
        Seq("db"))
      .filter(col("lab_a") === col("lab_b"))
      .groupBy(col("lab_a").as("label")).agg(count(lit(1)).as("l_intra"))
    val half = col("d_total").cast("double") /
      (col("m") * 2).cast("double")
    dTot.join(lIntra, Seq("label"), "left")
      .na.fill(0L, Seq("l_intra"))
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"), col("l_intra"),
        col("d_total"), col("m"),
        (col("l_intra").cast("double") / col("m").cast("double") -
          half * half).as("q_contrib"))
  }

  /** The D25/D26 edge frame over an undirected (da, db) pair table:
    * the pairs (checkpointed), each vertex's degree (v, deg), and every
    * (da, db, z) with z a common neighbor of both endpoints. */
  private def commonNeighbors(pairTable: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val p = pairTable.localCheckpoint()
    val edges = p.select(col("da").as("src"), col("db").as("dst"))
      .unionAll(p.select(col("db").as("src"), col("da").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("v"), col("deg"))
    val wedges = p.select(col("da"), col("db"))
      .join(edges.select(col("src").as("da"), col("dst").as("z")),
        Seq("da"))
      .join(edges.select(col("src").as("db"), col("dst").as("z")),
        Seq("db", "z"))
    (p, deg, wedges)
  }

  /** D25's kernel: per-EDGE strength scores over an undirected
    * (da, db) pair table — common-neighbor count and Adamic–Adar
    * (Adamic & Adar 2003) AA = Σ_{z∈N(a)∩N(b)} 1/ln(deg z). Every
    * common neighbor is adjacent to both endpoints, so deg z ≥ 2 and
    * ln(deg z) ≥ ln 2 > 0 — the division can never blow up. Each
    * 1/ln term renders at r6 then decimal-sums (the TXT20 exact-grid
    * trick: the per-z float chain is fixed-shape, the cross-z fold
    * exact), so the sum is summation-order-free. Edges with NO
    * common neighbor (bridges — the false-merge suspects this
    * operator exists to flag) surface as (0, 0.0) rather than
    * dropping. Factored out so the spec can drive it on a planted
    * two-triangle bridge where every cell is hand-countable. */
  private[graft] def edgeStrength(pairTable: DataFrame): DataFrame = {
    val (p, deg, wedges) = commonNeighbors(pairTable)
    val cn = wedges
      .join(deg.select(col("v").as("z"), col("deg")), Seq("z"))
      .groupBy("da", "db")
      .agg(count(lit(1)).as("common_cnt"),
        sum(r6(lit(1.0) / log(col("deg").cast("double")))
          .cast("decimal(24,10)")).cast("double").as("aa"))
    p.join(cn, Seq("da", "db"), "left")
      .na.fill(0L, Seq("common_cnt")).na.fill(0.0, Seq("aa"))
      .select(col("da"), col("db"), col("common_cnt"),
        r6(col("aa")).as("aa_score"))
  }

  /** D26's kernel: per-EDGE neighborhood Jaccard over an undirected
    * (da, db) pair table — |N(a)∩N(b)| / |N(a)\{b} ∪ N(b)\{a}|, the
    * NORMALIZED twin of D25's raw common-neighbor count (a 2-common-
    * neighbor edge means something different between degree-3 and
    * degree-30 endpoints). union = deg_a + deg_b − 2 − common in
    * pure integer arithmetic; the lone division is one IEEE op on
    * exact integers (bit-identical across engines, no rounding);
    * a both-endpoints-degree-1 edge (union 0) emits 0.0 exactly.
    * Factored out so the spec can drive it on a planted two-triangle
    * bridge where every cell is hand-countable. */
  private[graft] def edgeJaccard(pairTable: DataFrame): DataFrame = {
    val (p, deg, wedges) = commonNeighbors(pairTable)
    val cn = wedges
      .groupBy("da", "db").agg(count(lit(1)).as("common_cnt"))
    val uni = col("deg_a") + col("deg_b") - 2 - col("common_cnt")
    p.join(cn, Seq("da", "db"), "left")
      .na.fill(0L, Seq("common_cnt"))
      .join(deg.select(col("v").as("da"), col("deg").as("deg_a")),
        Seq("da"))
      .join(deg.select(col("v").as("db"), col("deg").as("deg_b")),
        Seq("db"))
      .select(col("da"), col("db"), col("deg_a"), col("deg_b"),
        col("common_cnt"), uni.as("union_cnt"),
        when(uni === 0, lit(0.0))
          .otherwise(col("common_cnt").cast("double") /
            uni.cast("double")).as("nbr_jaccard"))
  }

  /** D27's kernel: depth-bounded eccentricity + per-component
    * center/periphery election over an undirected (da, db) pair
    * table. ecc(v) = the outermost nonempty D23 distance shell —
    * min(true eccentricity, 3), exact whenever the component's
    * diameter is ≤ 3 (true for the measured corpus; the spec pins
    * the truncation semantics on a planted path that outgrows the
    * bound). reach = n1+n2+n3; component ids from the D10 fixpoint;
    * min/max ecc by integer agg; flags by integer equality — ALL
    * integer/boolean, nothing to pin. Factored out so the spec can
    * drive planted stars and paths. */
  private[graft] def eccentricityBlocks(pairTable: DataFrame,
      vertices: DataFrame): DataFrame = {
    val p = pairTable.localCheckpoint()
    val ecc = harmonicShells(p).select(col("doc_id"),
      when(col("n3") > 0, lit(3L)).when(col("n2") > 0, lit(2L))
        .otherwise(lit(1L)).as("ecc"),
      (col("n1") + col("n2") + col("n3")).as("reach"))
    val comp = connectedComponents(p, vertices)._1
    // materialized once (round 14): the per-component stats agg and
    // the final join both consume mem, and both its inputs (the shell
    // fold and the CC kernel's label loop) are worth one pass each
    val mem = ecc.join(comp, Seq("doc_id")).localCheckpoint()
    val stats = mem.groupBy("comp")
      .agg(min(col("ecc")).as("min_ecc"), max(col("ecc")).as("max_ecc"))
    mem.join(stats, Seq("comp"))
      .select(col("doc_id"), col("comp").as("component"), col("ecc"),
        col("reach"), (col("ecc") === col("min_ecc")).as("is_center"),
        (col("ecc") === col("max_ecc")).as("is_periphery"))
  }

  /** D12 kernel: per-doc triangle counts over an undirected (da, db)
    * pair graph, via the DEGREE-ORDERED orientation — every edge
    * points from its (degree, id)-smaller endpoint, so wedges
    * enumerate only from each triangle's minimum vertex and the wedge
    * count is bounded by O(m·α) (arboricity), not Σdeg². Both joins
    * are keyed hash joins (src; then (v, w) pair), never all-pairs. */
  private[operators] def triangleCounts(und: DataFrame): DataFrame = {
    val deg = und.select(col("da").as("v"))
      .unionAll(und.select(col("db").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val wd = und
      .join(deg.select(col("v").as("da"), col("dg").as("dga")), Seq("da"))
      .join(deg.select(col("v").as("db"), col("dg").as("dgb")), Seq("db"))
    val aFirst = col("dga") < col("dgb") ||
      (col("dga") === col("dgb") && col("da") < col("db"))
    // materialize the oriented edge table once (round 14, guide §2.4):
    // THREE subtrees consume it (both wedge self-join aliases and the
    // closing join) — un-truncated, the degree agg + two joins behind
    // it re-ran per reference
    val e = wd.select(
      when(aFirst, col("da")).otherwise(col("db")).as("src"),
      when(aFirst, col("db")).otherwise(col("da")).as("dst"),
      when(aFirst, col("dgb")).otherwise(col("dga")).as("ddst"))
      .localCheckpoint()
    val wedges = e.as("x").join(e.as("y"),
        col("x.src") === col("y.src") &&
          (col("x.ddst") < col("y.ddst") ||
           (col("x.ddst") === col("y.ddst") &&
            col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("u"), col("x.dst").as("v"),
        col("y.dst").as("w"))
    val tri = wedges.join(
      e.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
  }

  /** The corpus-scale verified near-dup pair graph: banded LSH
    * candidates (est ≥ minJ over the materialized signature table) →
    * exact shingle-Jaccard verification → keep true J ≥ minJ. This is
    * the graph every corpus-scale graph query (D10b/D12b) runs on —
    * NO doc_id slice and no exhaustive pair join anywhere: the only
    * all-corpus pass is the signature build (shared, `sig_build`).
    * Oracle-checkable because true duplicates in a real (and this
    * synthetic) corpus sit far above the 0.5 threshold (measured
    * min true J = 0.8 at sf0.1): a pair at J ≥ 0.8 shares ≥1 of the
    * 16 two-row bands with probability 1 − (1 − 0.8²)¹⁶ ≈ 1 − 10⁻¹³,
    * and its 32-hash estimate stays above 0.5 just as surely — so
    * the banded graph EQUALS the exhaustive exact-Jaccard graph the
    * DuckDB oracle computes, and any recall miss fails the hash
    * compare loudly. */
  private def verifiedCorpusPairsPlan(s: SparkSession, d: String,
      minJ: Double): DataFrame =
    verifyPairs(s, d, minhashPairs(signatures(s, d), minJ))
      .filter(col("true_jaccard") >= minJ)
      .select(col("da"), col("db"))

  /** The J ≥ 0.5 verified graph, materialized once per (session, dir):
    * BOTH full-corpus graph queries (D10b CC, D12b triangles) consume
    * the same ~|dup pairs| edge table, and the banded join + exact
    * verify is their dominant shared cost (the a55/sig_build pattern);
    * Bench times it as `corpus_pairs_build`. The table is edge-count
    * sized (256 rows at sf0.1), so the persist overhead is nil. */
  private[graft] val corpusPairs = graft.MaterializedTable(
    "corpus_pairs_build")((s, d) => verifiedCorpusPairsPlan(s, d, 0.5))

  private def verifiedCorpusPairs(s: SparkSession, d: String,
      minJ: Double): DataFrame = {
    require(minJ == 0.5, s"corpus pair graph is materialized at 0.5, got $minJ")
    corpusPairs(s, d)
  }

  /** Full-corpus CC labels (doc_id, comp), materialized once per
    * (session, dir) — round 14: SIX bench entries re-ran the whole
    * iterative CC loop per construction (d10_cc_corpus itself, pipe6/
    * 7/8/9, ds21_dedup_weights), and the labels are exactly the kind
    * of derived table production persists after the one graph pass
    * (the corpusPairs/signatures precedent). Bench times the build as
    * `cc_labels_build`. */
  private[graft] val ccLabels = graft.MaterializedTable(
      "cc_labels_build")((s, d) =>
    connectedComponents(corpusPairs(s, d),
      Tables.documents(s, d).select(col("doc_id")))._1)

  /** Full-corpus k-core coreness (doc_id, coreness ∈ 0..3),
    * materialized once per (session, dir) — round 14 (optimization
    * pass 2): BOTH d21_kcore and pipe7_graph_triage re-ran the whole
    * two-level peel per construction (~1.7 s each at sf0.1); the
    * coreness ladder is exactly the kind of derived table production
    * persists after the one graph pass (the ccLabels precedent).
    * Bench times the build as `coreness_build`. */
  private[graft] val coreness = graft.MaterializedTable(
      "coreness_build")((s, d) => {
    val e0 = verifiedCorpusPairs(s, d, 0.5).localCheckpoint()
    def peel(e: DataFrame, k: Int, rounds: Int): (DataFrame, DataFrame) = {
      var cur = e
      var curCnt = cur.count()
      var keep: DataFrame = cur.select(col("da").as("v")).limit(0)
      // Early exit at the fixed point (round 14): each round only
      // RESTRICTS the edge set, so an unchanged count proves an
      // unchanged set, and every later round of the fixed budget is
      // a provable no-op (keep_{r+1} derives from the same cur) —
      // the 8-round budget stays the documented bound, the skipped
      // rounds are the ones the spec already asserts do nothing.
      // Counts scan already-checkpointed blocks, so the check is
      // per-round-job-cheap vs the two semi-joins it saves.
      var r = 0
      var fixed = false
      while (r < rounds && !fixed) {
        val deg = cur.select(col("da").as("v"))
          .unionAll(cur.select(col("db").as("v")))
          .groupBy("v").agg(count(lit(1)).as("dg"))
        keep = deg.filter(col("dg") >= k).select("v").localCheckpoint()
        val nxt = cur
          .join(keep.select(col("v").as("da")), Seq("da"), "left_semi")
          .join(keep.select(col("v").as("db")), Seq("db"), "left_semi")
          .localCheckpoint()
        val nxtCnt = nxt.count()
        fixed = nxtCnt == curCnt
        cur = nxt
        curCnt = nxtCnt
        r += 1
      }
      (keep, cur)
    }
    val (n2, e2) = peel(e0, 2, 8)
    val (n3, _) = peel(e2, 3, 8)
    val c1 = e0.select(col("da").as("doc_id"))
      .unionAll(e0.select(col("db").as("doc_id"))).distinct()
    Tables.documents(s, d).select(col("doc_id"))
      .join(c1.withColumn("c1", lit(1L)), Seq("doc_id"), "left")
      .join(n2.select(col("v").as("doc_id"), lit(1L).as("c2")),
        Seq("doc_id"), "left")
      .join(n3.select(col("v").as("doc_id"), lit(1L).as("c3")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("c3") * 3, col("c2") * 2, col("c1"), lit(0L))
          .as("coreness"))
  })

  /** D6/DECON2's exact-verification stage: candidate pairs →
    * (da, db, est_jaccard, true_jaccard). The candidate table is
    * materialized once (localCheckpoint) because it feeds four
    * downstream subtrees — without truncation each would re-run the
    * whole MinHash pipeline; the 100 TB analogue is persisting the
    * candidate table before the verify stage. Re-shingles ONLY the
    * candidate docs (semi-join BEFORE the shingle explode), so exact
    * verification scales with |candidates| (per-mille of the corpus
    * after banding), not the corpus. */
  private[operators] def verifyPairs(s: SparkSession, d: String,
      candidates: DataFrame): DataFrame = {
    val cand = candidates.localCheckpoint()
    val candDocs = cand.select(col("da").as("doc_id"))
      .union(cand.select(col("db").as("doc_id"))).distinct()
    val sh = shinglesOf(
      Tables.documents(s, d).join(candDocs, Seq("doc_id"), "left_semi"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val inter = cand.select(col("da"), col("db"))
      .join(sh.select(col("doc_id").as("da"), col("sh")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("sh")), Seq("db", "sh"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
    cand
      .join(inter, Seq("da", "db"), "left")
      .join(sizes.select(col("doc_id").as("da"), col("nsh").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("nsh").as("nb")), Seq("db"))
      .select(col("da"), col("db"), col("est_jaccard"),
        r6(coalesce(col("ni"), lit(0L)).cast("double") /
           (col("na") + col("nb") - coalesce(col("ni"), lit(0L))))
          .as("true_jaccard"))
  }

  /** Per-doc SimHash bit sums s0…s63 (sᵢ > 0 ⇔ bit i of the signature
    * is set): one token explode + one hash agg, shared by the D4
    * signature render and the D8 banded pair search. */
  private def simhashBitSums(s: SparkSession, d: String): DataFrame = {
    val tokens = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums: Seq[Column] = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s$b"))
    tokens.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // D3: MinHash+LSH near-dup candidate pairs (est Jaccard ≥ 0.5).
    // The memoized signature table is dumped and read back so both
    // engines band/estimate the identical artifact (see D3SigDump) —
    // flipped from rows-only in round 12.
    "d3_minhash_lsh" -> ((s, d) => {
      minhashPairs(sigDump(s, d), 0.5).orderBy("da", "db")
    }),

    // D6: the complete scale-dedup pipeline — LSH candidates verified
    // with TRUE shingle Jaccard. The exact |A∩B|/|A∪B| join runs ONLY
    // over the LSH-bounded candidate set (never all pairs): candidates
    // × their shingles → equi-join on (other doc, shingle) counts the
    // intersection; sizes come from one shingle count per doc. At
    // 100 TB this is the dedup decision path: bands prune, exact
    // Jaccard confirms.
    // Signature dump as in D3; the oracle replays banding + estimate
    // AND the exact shingle verify (the D2 SQL) over the candidates.
    "d6_lsh_verified" -> ((s, d) => {
      verifyPairs(s, d, minhashPairs(sigDump(s, d), 0.5))
        .orderBy("da", "db")
    }),

    // D7 exact twin: incremental ingest dedup — which docs of the
    // incoming batch (doc_id % 4 == 0, a scale-invariant stand-in for
    // "today's crawl") are NEW against the existing corpus, by exact
    // content hash. Anti join on md5(text): one shuffle on the digest.
    // Oracle-checked; the bloom variant below is anchored to it.
    "d7_incremental_new" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"))
      val existing = docs.filter(col("doc_id") % 4 =!= 0)
        .select(col("h")).distinct()
      docs.filter(col("doc_id") % 4 === 0)
        .join(existing, Seq("h"), "left_anti")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // D7 scale path: the same question answered with a Bloom filter —
    // Spark's own BloomFilterAggregate / BloomFilterMightContain
    // (the runtime-filter machinery, used here directly). The corpus
    // side reduces to ONE ~200 KB binary on the driver — built once
    // per (session, dir) (memoized like the signature/grid tables;
    // Bench times the build as its own `bloom_build` entry) — and the
    // incoming batch is then a single scan with a codegen membership
    // probe: no join, no shuffle of the existing corpus per batch.
    // Bloom semantics: no false negatives, so every reported doc is
    // truly new (result ⊆ exact twin, asserted in DedupSpec); false
    // positives make it conservative — a truly-new doc can be missed
    // at the configured fpp, never invented. Rows-only (the bloom
    // binary is not SQL-expressible).
    "d7_bloom_new" -> ((s, d) => {
      val incoming = Tables.documents(s, d)
        .select(col("doc_id"), xxhash64(col("text")).as("h"))
        .filter(col("doc_id") % 4 === 0)
      val probed = bloom(s, d) match {
        case Some(bytes) =>
          incoming.filter(!ColumnBridge.column(BloomFilterMightContain(
            ColumnBridge.expression(lit(bytes)),
            ColumnBridge.expression(col("h")))))
        // empty existing corpus (first-ever batch): nothing was seen,
        // every incoming doc is new — might_contain over a NULL bloom
        // would instead null out the predicate and drop ALL rows
        case None => incoming
      }
      probed.select(col("doc_id")).orderBy("doc_id")
    }),

    // D10: duplicate-CLUSTER resolution — connected components over
    // the exact-Jaccard pair graph (doc_id < 100 slice, J ≥ 0.02,
    // where the corpus has genuine transitive chains), electing the
    // min doc_id as each cluster's canonical. The keep set is
    // `doc_id == canonical_id`. Fully oracle-checked: DuckDB computes
    // the same components via a recursive transitive-closure CTE over
    // the identical pair SQL.
    "d10_dup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") < 100).select(col("doc_id"))
      val pairs = TextAnalysis.slicePairs100(s, d)
      connectedComponents(pairs, docs)._1
        .select(col("doc_id"), col("comp").as("canonical_id"))
        .orderBy("doc_id")
    }),

    // D20: representative selection — the step production dedup runs
    // AFTER clustering that D10 stops short of: every near-dup
    // cluster keeps exactly ONE copy, and not an arbitrary one — the
    // longest (n_chars desc, doc_id tiebreak), the "keep the most
    // complete variant" heuristic (truncated scrapes and boilerplate
    // stubs lose to their fuller twins; min-id canonical election
    // would keep whichever copy happened to get crawled first). One
    // rank window keyed by the component id — bounded by cluster
    // size, evenly keyed at any scale; pure integer comparisons.
    // Every doc ships with its verdict so the drop set is auditable
    // (the corpus datasheet wants both sides). Fully oracle-checked
    // (the DuckDB replay extends D10's recursive-CTE components).
    "d20_keep_best" -> ((s, d) => {
      val clusters = queries("d10_dup_clusters")(s, d)
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy("canonical_id")
        .orderBy(col("n_chars").desc, col("doc_id"))
      clusters.join(docs, Seq("doc_id"))
        .withColumn("pick", row_number().over(w))
        .select(col("doc_id"), col("canonical_id"), col("n_chars"),
          (col("pick") === 1).as("keep"))
        .orderBy("doc_id")
    }),

    // D11: PageRank centrality over the SAME near-dup edge slice D10
    // clusters — the rank-weighted alternative to min-id canonical
    // election. FULLY hash-checked since round 11: the kernel's
    // fixed-point integer arithmetic makes each round bit-exact, so
    // the fixed 10-round iteration unrolls into chained CTEs (the
    // d14b trick extended to weighted state — see pageRankOracle);
    // DedupSpec's sequential power iteration (≤1e-9 per node) and
    // structural invariants (mass bound, isolated-vertex teleport
    // floor) stay as the independent anchor.
    "d11_pagerank" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") < 100).select(col("doc_id"))
      val pairs = TextAnalysis.slicePairs100(s, d)
      pageRank(pairs, docs, iters = 10, damp = 0.85)
        .orderBy("doc_id")
    }),

    // D14: label-propagation communities over the SAME near-dup edge
    // slice — D10 answers "which docs are transitively connected",
    // D14 answers the finer "which docs cluster densely": a hub doc
    // chaining two otherwise-unrelated plagiarism rings joins ONE
    // ring instead of gluing both into a single canonical group (the
    // over-merge failure mode of pure connected components at scale).
    // FULLY hash-checked since round 11: the fixed 4-round integer
    // iteration unrolls into chained CTEs exactly like d14_lpa_corpus
    // (same SQL, slice-scoped); DedupSpec's sequential recomputation
    // of the synchronous self-vote/min-tie update AND the
    // community-⊆-component nesting stay as the independent anchor.
    "d14_label_prop" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") < 100).select(col("doc_id"))
      val pairs = TextAnalysis.slicePairs100(s, d)
      labelPropagation(pairs, docs, iters = 4)
        .orderBy("doc_id")
    }),

    // D12: triangle counting over the near-dup graph — the local
    // clustering signal that separates a tight plagiarism ring (dense
    // triangles) from a hub doc that merely shares boilerplate with
    // many others (star, no triangles). Uses the DEGREE-ORDERED
    // orientation: every edge points from its (degree, id)-smaller
    // endpoint, so wedges enumerate only from each triangle's
    // minimum vertex and the wedge count is bounded by O(m·α)
    // (arboricity), not Σdeg² — the difference between feasible and
    // quadratic on a power-law graph at 100 TB. Both joins are keyed
    // hash joins (src; then (v,w) pair), never all-pairs. Fully
    // oracle-checked: DuckDB replays the identical orientation and
    // wedge-close arithmetic over the same pair SQL.
    "d12_triangle_count" -> ((s, d) =>
      triangleCounts(TextAnalysis.slicePairs200(s, d)
        .select(col("da"), col("db")))
        .orderBy("doc_id")),

    // D10b: FULL-CORPUS near-dup clusters — the round-9 answer to
    // "the graph stage only ran on planted doc_id slices": the same
    // connected-components kernel as D10, but over every document,
    // with the edges coming from the PRODUCTION scale path
    // (signatures → banded LSH → exact verify at J ≥ 0.5) instead of
    // the slice's exhaustive shingle join. Fully oracle-checked: the
    // DuckDB twin computes the exhaustive exact-Jaccard graph + a
    // recursive min-propagation closure, so the check also PROVES the
    // banded candidate generation lost no edge (see
    // [[verifiedCorpusPairs]]). Scale shape: candidate join is
    // (band, bucket)-keyed, verify touches only candidates, CC rounds
    // are keyed join + min-agg with localCheckpoint lineage
    // truncation — no all-pairs anywhere.
    "d10_cc_corpus" -> ((s, d) =>
      ccLabels(s, d)
        .select(col("doc_id"), col("comp").as("canonical_id"))
        .orderBy("doc_id")),

    // D12b: full-corpus triangle counts over the same verified graph
    // — duplicate RINGS (3+ mutually-similar docs) vs mere pairs, at
    // corpus scale. Same degree-ordered kernel as D12; fully
    // oracle-checked against the exhaustive graph.
    "d12_tri_corpus" -> ((s, d) =>
      triangleCounts(verifiedCorpusPairs(s, d, 0.5))
        .orderBy("doc_id")),

    // D13: local clustering coefficient — D12's triangle counts
    // normalized by each node's wedge capacity: cc = 2·tri/(deg·
    // (deg−1)), the 0..1 "how clique-like is this doc's
    // neighborhood" score (1 = closed plagiarism ring, →0 = hub
    // sharing boilerplate pairwise). Degrees come from the same edge
    // slice; docs with deg < 2 are excluded (cc undefined — and
    // ANSI mode would throw on the 0 denominator, which is the
    // guard's other job). Two keyed joins over node-sized frames.
    "d13_clustering_coeff" -> ((s, d) => {
      val und = TextAnalysis.slicePairs200(s, d)
        .select(col("da"), col("db"))
      val deg = und.select(col("da").as("doc_id"))
        .unionAll(und.select(col("db").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("deg"))
      val tri = queries("d12_triangle_count")(s, d)
      deg.filter(col("deg") >= 2)
        .join(tri, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_tri"))
        .select(col("doc_id"), col("deg"), col("n_tri"),
          round(lit(2.0) * col("n_tri") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6).as("cc"))
        .orderBy("doc_id")
    }),

    // D11b: FULL-CORPUS PageRank — the rank-weighted canonical
    // election run over the PRODUCTION edge graph (signatures →
    // banded LSH → exact verify at J ≥ 0.5, the same materialized
    // table D10b/D12b consume) instead of the doc_id < 100 demo
    // slice. Vertices = every document: isolated docs (the vast
    // majority — dup clusters are rare) sit exactly on the teleport
    // floor (1−d)/N, which the spec asserts alongside ≤1e-9
    // agreement with a sequential power iteration over the same
    // edges. FULLY hash-checked since round 11: the fixed-point
    // kernel + the unrolled-CTE oracle over the exhaustive corpus
    // graph (so the match again proves banded LSH recall); scale
    // shape is unchanged from D11 — 10 fixed rounds of keyed
    // join + hash agg with O(1) plans — but now the iteration
    // constants are MEASURED on the corpus graph, not argued from a
    // planted slice.
    "d11_pr_corpus" -> ((s, d) =>
      pageRank(verifiedCorpusPairs(s, d, 0.5),
        Tables.documents(s, d).select(col("doc_id")),
        iters = 10, damp = 0.85)
        .orderBy("doc_id")),

    // D13b: FULL-CORPUS local clustering coefficient over the same
    // verified graph — cc = 2·tri/(deg·(deg−1)) for every corpus doc
    // with deg ≥ 2, separating closed duplicate rings (cc = 1) from
    // boilerplate hubs at corpus scale. Integer-exact inputs (degree
    // counts + D12b's triangle counts) → fully oracle-checked: the
    // DuckDB twin recomputes the exhaustive exact-Jaccard 0.5 graph,
    // the identical degree-ordered wedge arithmetic, and the same
    // normalization, so the hash match again proves banded recall.
    "d13_coeff_corpus" -> ((s, d) => {
      val und = verifiedCorpusPairs(s, d, 0.5)
      val deg = und.select(col("da").as("doc_id"))
        .unionAll(und.select(col("db").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("deg"))
      deg.filter(col("deg") >= 2)
        .join(triangleCounts(und), Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_tri"))
        .select(col("doc_id"), col("deg"), col("n_tri"),
          round(lit(2.0) * col("n_tri") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6).as("cc"))
        .orderBy("doc_id")
    }),

    // D14b: FULL-CORPUS label-propagation communities over the same
    // verified graph — the over-merge-resistant canonical election at
    // corpus scale (D10b collapses transitive chains; D14b keeps
    // densely-linked rings separate when a hub doc bridges them).
    // Vertices = every document; isolated docs keep their own id.
    // FULLY oracle-checked since round 11: the fixed 4-round
    // iteration unrolls into chained CTEs (integer votes, total-order
    // tiebreak — no recursion, no float), so the DuckDB twin replays
    // the exact synchronous update over the exhaustive graph; the
    // spec's sequential recompute + community ⊆ D10b nesting stays
    // as the independent anchor.
    "d14_lpa_corpus" -> ((s, d) =>
      labelPropagation(verifiedCorpusPairs(s, d, 0.5),
        Tables.documents(s, d).select(col("doc_id")), iters = 4)
        .orderBy("doc_id")),

    // D21: k-core decomposition (coreness capped at 3) over the same
    // verified corpus graph — the density LADDER the flat D13
    // coefficient can't see: coreness 1 = merely-paired doc,
    // 2 = member of a cycle/ring, 3 = embedded in a near-clique (the
    // boilerplate-template core dedup wants to collapse first). The
    // peel is SYNCHRONOUS with a FIXED 8-round budget per level
    // (n_r = nodes with deg ≥ k in e_{r−1}; e_r = e_{r−1} restricted
    // to n_r×n_r — the sql7 bounded-iteration doctrine: the bound is
    // a literal of the operator, DedupSpec asserts the fixed point
    // was reached inside it, and the DuckDB twin UNROLLS the same 16
    // rounds as chained CTEs over the exhaustive graph). Integer set
    // arithmetic end to end → fully hash-checked; each round is two
    // keyed semi-joins + one hash agg with an O(1) localCheckpoint'd
    // plan (the D10 pattern). The peel itself lives in the
    // [[coreness]] MaterializedTable (round 14: d21 and pipe7 shared
    // it per-construction; Bench times the build as `coreness_build`).
    "d21_kcore" -> ((s, d) => coreness(s, d).orderBy("doc_id")),

    // D23: bounded-depth harmonic centrality (Boldi & Vigna 2014) —
    // WHICH doc sits at the center of a boilerplate neighborhood
    // (the doc to keep when a cluster is sampled, the doc to inspect
    // when one is audited): H(v) = Σ 1/d(v,u) truncated at d ≤ 3
    // (the measured corpus cluster diameter — the sql7 bound),
    // computed as n1 + n2/2 + n3/3 from the EXACT distance-shell
    // counts. Shells build by 3 rounds of keyed join + distinct +
    // anti-join against nearer shells — integer set arithmetic, the
    // fold one fixed 5-flop chain → fully hash-checked against a
    // MATERIALIZED-CTE DuckDB twin over the exhaustive graph. Only
    // docs IN the graph emit rows (isolated docs have H = 0 and no
    // shells — excluded like D13's deg < 2).
    "d23_harmonic" -> ((s, d) =>
      harmonicShells(verifiedCorpusPairs(s, d, 0.5)).orderBy("doc_id")),

    // D22: degree assortativity of the verified corpus graph — does
    // boilerplate link hub-to-hub (r > 0, one template family) or
    // hub-to-leaf (r < 0, a star of variants around one source)?
    // Newman's r is the Pearson correlation of endpoint degrees over
    // DIRECTED edge copies: r = (M·Σjk − (Σj)²)/(M·Σj² − (Σj)²) —
    // every sum an exact BIGINT (degrees are counts), ONE division
    // at the end; the zero-variance regular-graph case is excluded
    // by an exact integer filter. One degree agg + two keyed joins +
    // one 1-row fold.
    "d22_assortativity" -> ((s, d) => {
      val p = verifiedCorpusPairs(s, d, 0.5)
      val deg = p.select(col("da").as("v"))
        .unionAll(p.select(col("db").as("v")))
        .groupBy("v").agg(count(lit(1)).as("dg"))
      val nodes = deg.agg(count(lit(1)).as("n_nodes"))
      val dir = p.select(col("da"), col("db"))
        .unionAll(p.select(col("db").as("da"), col("da").as("db")))
      dir
        .join(deg.select(col("v").as("da"), col("dg").as("j")), Seq("da"))
        .join(deg.select(col("v").as("db"), col("dg").as("k")), Seq("db"))
        .agg(count(lit(1)).as("m2"),
          sum(col("j") * col("k")).as("sjk"),
          sum(col("j")).as("sj"),
          sum(col("j") * col("j")).as("sj2"))
        .filter(col("m2") * col("sj2") - col("sj") * col("sj") =!= 0)
        .crossJoin(broadcast(nodes))
        .select((col("m2").cast("double") / 2).cast("long").as("n_edges"),
          col("n_nodes"),
          ((col("m2") * col("sjk") - col("sj") * col("sj")).cast("double") /
            (col("m2") * col("sj2") - col("sj") * col("sj")).cast("double"))
            .as("assortativity"))
    }),

    // D24: per-community modularity over the verified corpus graph,
    // with D14b's 4-round LPA labels as the partition — the QUALITY
    // gauge for the community structure the dedup pipeline acts on
    // (Newman & Girvan 2004): q_c = l_c/m − (d_c/(2m))² per
    // community, positive when the community is denser than the
    // degree-preserving random expectation. All inputs exact integers
    // (edge counts, degree sums) from three keyed joins over
    // node/edge-sized frames; the per-row float chain is fixed-shape
    // (two divisions, one square, one subtraction) so the oracle —
    // the exhaustive pair graph + the SAME unrolled 4-round LPA +
    // the identical arithmetic — hash-matches exactly. No global
    // float fold inside the operator (the A95 convention); the spec
    // folds Σq_c and exercises the boundary-edge term on a planted
    // bridge graph the all-clique corpus can't reach.
    "d24_modularity" -> ((s, d) => {
      val und = verifiedCorpusPairs(s, d, 0.5)
      val labels = labelPropagation(und,
        Tables.documents(s, d).select(col("doc_id")), iters = 4)
      modularityBlocks(und, labels).orderBy("label")
    }),

    // D25: edge-strength triage over the verified corpus graph —
    // per EDGE, the common-neighbor count and Adamic–Adar score
    // (Adamic & Adar 2003), the link-prediction lenses production
    // dedup uses BACKWARDS: a verified pair whose endpoints share no
    // other neighbors is a BRIDGE (the false-merge suspect D24's
    // boundary term prices; inspect before collapsing two clusters),
    // while a high-AA edge is redundantly confirmed by its
    // neighborhood. Integer degrees and counts from keyed joins over
    // edge-sized frames; each 1/ln(deg z) term r6'd then
    // decimal-summed (order-free); bridges surface as (0, 0.0). The
    // oracle replays the exhaustive graph, so the hash also
    // re-proves banded LSH recall per round.
    "d25_edge_strength" -> ((s, d) =>
      edgeStrength(verifiedCorpusPairs(s, d, 0.5))
        .orderBy("da", "db")),

    // D28: cross-source duplication matrix — WHICH sources duplicate
    // WHICH over the verified corpus graph (the provenance axis of
    // the dedup report: a heavy cross cell between two crawls means
    // one mirrors the other and the mixture weights double-count it;
    // a heavy diagonal cell means a source self-duplicates and its
    // effective size is smaller than its row count). One unordered
    // (source, source) rollup of the shared materialized
    // corpus_pairs against the doc→source projection: exact pair
    // counts, the cross/diagonal verdict an exact string comparison,
    // and each cell's share of all verified pairs one exact-integer
    // division. The DuckDB twin replays the exhaustive graph — the
    // hash again re-proves banded LSH recall, now per source cell.
    "d28_source_overlap" -> ((s, d) => {
      val pairs = verifiedCorpusPairs(s, d, 0.5)
      val src = Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
      val cells = pairs
        .join(src.select(col("doc_id").as("da"), col("source").as("sa")),
          Seq("da"))
        .join(src.select(col("doc_id").as("db"), col("source").as("sb")),
          Seq("db"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
      val total = cells.agg(sum(col("n_pairs")).as("n_total"))
      cells.crossJoin(broadcast(total))
        .select(col("source_a"), col("source_b"), col("n_pairs"),
          (col("source_a") =!= col("source_b")).as("is_cross"),
          (col("n_pairs").cast("double") / col("n_total").cast("double"))
            .as("share"))
        .orderBy("source_a", "source_b")
    }),

    // D26: per-edge neighborhood Jaccard over the verified corpus
    // graph — D25's common-neighbor count NORMALIZED by the joint
    // neighborhood size, so edge strength compares across degree
    // scales (2 shared neighbors is conclusive between degree-3
    // endpoints, noise between degree-30 ones). Pure integer cells +
    // one IEEE division (bit-identical, no rounding grid); the
    // oracle replays the exhaustive graph, re-proving banded LSH
    // recall.
    "d26_edge_jaccard" -> ((s, d) =>
      edgeJaccard(verifiedCorpusPairs(s, d, 0.5))
        .orderBy("da", "db")),

    // D27: depth-bounded eccentricity + per-component center/
    // periphery election over the verified corpus graph — WHERE in
    // its cluster each doc sits (the center is D23's harmonic
    // argmax's cheap integer twin; the periphery is the crawl
    // frontier — the docs to inspect when a cluster looks wrongly
    // merged). ecc(v) = the outermost nonempty D23 distance shell
    // (exact for this corpus: measured diameter 3), reach = n1+n2+n3;
    // per-component min/max ecc by integer agg on the D10 component
    // id, flags by integer equality. ALL integer/boolean — nothing
    // to pin; fully hash-checked vs the exhaustive-graph +
    // recursive-closure twin.
    "d27_eccentricity" -> ((s, d) =>
      eccentricityBlocks(verifiedCorpusPairs(s, d, 0.5),
        Tables.documents(s, d).select(col("doc_id")))
        .orderBy("doc_id")),

    // D4: 64-bit SimHash signature per document (bitstring form).
    // Bit-sum dump (shared with D8): the oracle replays the s_i > 0
    // thresholding and bitstring render — flipped from rows-only in
    // round 12.
    "d4_simhash" -> ((s, d) => {
      sumsDump(s, d)
        .select(col("doc_id"),
          concat((63 to 0 by -1).map(i =>
            when(col(s"s$i") > 0, "1").otherwise("0")): _*).as("simhash"))
        .orderBy("doc_id")
    }),

    // D8: SimHash near-duplicate PAIRS — the scale path D4's signature
    // exists for. 4 bands × 16 bits: by pigeonhole, two signatures at
    // Hamming distance ≤ 3 cannot differ in all 4 bands, so every such
    // pair shares ≥1 band bucket and the band equi-join has PERFECT
    // recall over the h ≤ 3 predicate — banding + popcount verify is
    // EXACT, not approximate (asserted against an all-pairs
    // recomputation in DedupSpec). Candidates co-locate by a
    // (band, bucket) hash shuffle — 2¹⁶ buckets per band bound the
    // per-reducer pair work; no all-pairs comparison anywhere.
    // Bit-sum dump as in D4; the oracle replays thresholding, 4×16
    // banding, the bucket join, and the 64-bit disagreement count —
    // flipped from rows-only in round 12.
    "d8_simhash_pairs" -> ((s, d) => {
      val sig = sumsDump(s, d)
        .select(col("doc_id"),
          (0 until 64).map(i =>
            when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
            .reduce(_ bitwiseOR _).as("sh"))
      hammingPairs(sig, "doc_id", "sh", bands = 4, maxDist = 3)
    }),

    // D29: SimHash duplicate-CLUSTER resolution — completes the
    // pairs-are-not-clusters story for the SimHash modality exactly
    // as D10 does for shingle Jaccard, MM9 for pHash, and D16 for
    // embeddings: the D8 pair graph (Hamming ≤ 3, banding
    // pigeonhole-complete at that radius) resolves to canonical
    // groups via the shared property-tested connected-components
    // kernel, every doc a vertex (h ≤ 3-isolated docs stand as
    // singletons). Fully hash-checked via the D8SumsDump: the oracle
    // replays thresholding + banding + Hamming AND the recursive
    // min-propagation closure — the hash certifies the composed
    // pipeline end to end.
    "d29_simhash_clusters" -> ((s, d) => {
      val sig = sumsDump(s, d)
        .select(col("doc_id"),
          (0 until 64).map(i =>
            when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
            .reduce(_ bitwiseOR _).as("sh"))
      val pairs = hammingPairs(sig, "doc_id", "sh", bands = 4, maxDist = 3)
        .select(col("da"), col("db"))
      connectedComponents(pairs,
        Tables.documents(s, d).select(col("doc_id")))._1
        .select(col("doc_id"), col("comp").as("canonical_id"))
        .orderBy("doc_id")
    })
  )

  /** Shared oracle CTE chain `docs → sh → sizes → inter`: each doc's
    * distinct word 3-grams (the CTE named `sh`), their count `sz`, and
    * per doc pair da < db the count `i` of 3-grams they share. `docs`
    * is the docs CTE's query: doc_id and its token list `t`. */
  private[operators] def interCtes(docs: String, sh: String = "sh"): String =
    s"""docs AS (
             $docs),
           $sh AS (
             SELECT doc_id, unnest(list_distinct(list_transform(
                      generate_series(1, len(t) - 2),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
             FROM docs WHERE len(t) >= 3),
           sizes AS (SELECT doc_id, count(*) AS sz FROM $sh GROUP BY 1),
           inter AS (
             SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             FROM $sh a JOIN $sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             GROUP BY 1, 2)"""

  /** The docs query over `documents` + docFilter: the whitespace tokens
    * of each lower-cased, trimmed text. */
  private[operators] def docTokens(docFilter: String): String =
    s"""SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
             FROM documents$docFilter"""

  /** The docs query over the docs a `cdocs` CTE names. */
  private[operators] val cdocsTokens: String =
    """SELECT dd.doc_id,
                    string_split_regex(lower(trim(dd.text)), '\s+') AS t
             FROM documents dd JOIN cdocs USING (doc_id)"""

  /** [[interCtes]] over `documents` + docFilter, then `pairs`: the
    * exhaustive exact-Jaccard 3-gram pair graph the graph-kernel
    * oracles replay (docFilter scopes the demo slices, tau is the
    * Jaccard threshold; `pairsAs` heads the pairs CTE — its name, and
    * AS MATERIALIZED where an oracle reads it many times). Matches
    * [[graft.operators.TextAnalysis.ngramJaccardPairs]] on slices and
    * [[verifiedCorpusPairs]] on the corpus (where a hash match ALSO
    * proves banded LSH recall). */
  private[operators] def pairsCtes(docFilter: String, tau: String,
      pairsAs: String = "pairs AS", sh: String = "sh"): String =
    s"""${interCtes(docTokens(docFilter), sh)},
           $pairsAs (
             SELECT da, db FROM inter
             JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
             WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= $tau)"""

  /** D12's degree-ordered triangle listing over the `pairs` graph:
    * CTEs `deg` (v, dg), `e` (each edge oriented low→high degree, ties
    * by id, with the head's degree ddst), `wed` (wedges from each
    * source) and `tri` (the wedges a third edge closes: u, v1, w1). */
  private val TriangleCtes =
    """deg AS (
             SELECT v, count(*) AS dg FROM (
               SELECT da AS v FROM pairs
               UNION ALL SELECT db AS v FROM pairs)
             GROUP BY 1),
           e AS (
             SELECT CASE WHEN x.dg < y.dg OR (x.dg = y.dg AND da < db)
                         THEN da ELSE db END AS src,
                    CASE WHEN x.dg < y.dg OR (x.dg = y.dg AND da < db)
                         THEN db ELSE da END AS dst,
                    CASE WHEN x.dg < y.dg OR (x.dg = y.dg AND da < db)
                         THEN y.dg ELSE x.dg END AS ddst
             FROM pairs JOIN deg x ON da = x.v JOIN deg y ON db = y.v),
           wed AS (
             SELECT a.src AS u, a.dst AS v1, b.dst AS w1
             FROM e a JOIN e b ON a.src = b.src
               AND (a.ddst < b.ddst
                    OR (a.ddst = b.ddst AND a.dst < b.dst))),
           tri AS (
             SELECT u, v1, w1 FROM wed
             JOIN e ON wed.v1 = e.src AND wed.w1 = e.dst)"""

  /** D23's bounded-distance shells over the `pairs` graph, each
    * MATERIALIZED (every later shell re-reads the earlier ones): `r1`
    * the (v, u) neighbor pairs, `r2` and `r3` the pairs first reached
    * at distance 2 and 3. */
  private[operators] val ShellCtes =
    """r1 AS MATERIALIZED (
             SELECT DISTINCT v, u FROM (
               SELECT da AS v, db AS u FROM pairs
               UNION ALL SELECT db AS v, da AS u FROM pairs)),
           r2 AS MATERIALIZED (
             SELECT DISTINCT a.v, b.u FROM r1 a JOIN r1 b ON a.u = b.v
             WHERE b.u <> a.v
               AND NOT EXISTS (SELECT 1 FROM r1 x
                               WHERE x.v = a.v AND x.u = b.u)),
           r3 AS MATERIALIZED (
             SELECT DISTINCT a.v, b.u FROM r2 a JOIN r1 b ON a.u = b.v
             WHERE b.u <> a.v
               AND NOT EXISTS (SELECT 1 FROM r2 x
                               WHERE x.v = a.v AND x.u = b.u)
               AND NOT EXISTS (SELECT 1 FROM r1 y
                               WHERE y.v = a.v AND y.u = b.u))"""

  /** The recursive reachability closure over the undirected edge CTE
    * `edges` (src, dst), seeded with every doc_id of `nodes`: CTE
    * `reach` (id, r) — each node's component is its min(r). Needs
    * WITH RECURSIVE. */
  private[operators] def reachCte(edges: String, nodes: String): String =
    s"""reach AS (
             SELECT doc_id AS id, doc_id AS r FROM $nodes
             UNION
             SELECT reach.id, e.dst FROM reach JOIN $edges e
               ON reach.r = e.src)"""

  /** The k-core peel (D21, PIPE7) as 8 synchronous rounds of
    * chained CTEs from the edge CTE `seed`: `n<lvl>_<r>` keeps the
    * vertices of degree ≥ k, `e<lvl>_<r>` the edges between them.
    * Every round is MATERIALIZED: DuckDB inlines CTEs by default, and
    * each round reads its predecessor 4×. */
  private[operators] def peelCtes(lvl: Int, k: Int, seed: String): String =
    (1 to 8).map { r =>
      val prev = if (r == 1) seed else s"e${lvl}_${r - 1}"
      s"""n${lvl}_$r AS MATERIALIZED (
             SELECT v FROM (SELECT da AS v FROM $prev
                            UNION ALL SELECT db AS v FROM $prev)
             GROUP BY v HAVING count(*) >= $k),
           e${lvl}_$r AS MATERIALIZED (
             SELECT da, db FROM $prev
             WHERE da IN (SELECT v FROM n${lvl}_$r)
               AND db IN (SELECT v FROM n${lvl}_$r))"""
    }.mkString(",\n           ")

  /** D14's 4 synchronous label-propagation rounds unrolled as CTEs
    * over the `pairs` graph: `edgesAs` heads the undirected edge CTE
    * (its name, and AS MATERIALIZED where the rounds must not
    * re-expand it); round i's votes `v<i>`, counts `c<i>` and argmax
    * labels `l<i>` (count DESC, label ASC) start from `l0`, every doc
    * (of the `documents` that `docFilter` keeps) its own label. */
  private def lpaCtes(edgesAs: String, docFilter: String = ""): String =
    s"""$edgesAs (SELECT da AS src, db AS dst FROM pairs
                     UNION SELECT db AS src, da AS dst FROM pairs),
           l0 AS (SELECT doc_id, doc_id AS label FROM documents$docFilter),
           ${(1 to 4).map(i =>
             s"""v$i AS (
             SELECT e.dst AS doc_id, l.label
             FROM edges e JOIN l${i - 1} l ON e.src = l.doc_id
             UNION ALL SELECT doc_id, label FROM l${i - 1}),
           c$i AS (
             SELECT doc_id, label, count(*) AS n FROM v$i GROUP BY 1, 2),
           l$i AS (
             SELECT doc_id, label FROM (
               SELECT doc_id, label,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY n DESC, label) AS rk
               FROM c$i) WHERE rk = 1)""").mkString(",\n           ")}"""

  /** D13/D13b oracle: the `pairsCtes(docFilter, tau)` graph's
    * triangles ([[TriangleCtes]]) per vertex and its local clustering
    * coefficient, for vertices of degree 2 or more. */
  private def clusteringSql(docFilter: String, tau: String): String =
    s"""WITH ${pairsCtes(docFilter, tau)},
           $TriangleCtes,
           pt AS (
             SELECT doc_id, count(*) AS n_tri
             FROM (SELECT unnest([u, v1, w1]) AS doc_id FROM tri)
             GROUP BY 1)
         SELECT deg.v AS doc_id, CAST(deg.dg AS BIGINT) AS deg,
                CAST(coalesce(pt.n_tri, 0) AS BIGINT) AS n_tri,
                round(CAST(2 AS DOUBLE) * coalesce(pt.n_tri, 0) /
                      (deg.dg * (deg.dg - 1)), 6) AS cc
         FROM deg LEFT JOIN pt ON deg.v = pt.doc_id
         WHERE deg.dg >= 2 ORDER BY doc_id"""

  /** D11's ten damped power-iteration rounds UNROLLED as chained CTEs
    * (the d14b trick, extended to weighted state by the kernel's
    * FIXED-POINT contract): rank is BIGINT micro-units of 1e-15
    * mass, so every round is exact integer arithmetic — `//` on the
    * nonnegative domain is Spark's `div`, the contribution sum is
    * CAST back to BIGINT (DuckDB widens integer sums to HUGEINT —
    * the a57/f12/w27 lint class), and the single float op is the
    * final exact ÷1e15 render. n and the teleport floor are computed
    * IN SQL from the same vertex set with the identical integer
    * floor divisions the Scala driver runs. */
  private def pageRankOracle(docFilter: String, tau: String): String = {
    val rounds = (1 to 10).map { i =>
      s"""s$i AS (
             SELECT e.dst AS doc_id,
                    CAST(sum(r.r // dg.dg) AS BIGINT) AS cs
             FROM edges e JOIN r${i - 1} r ON e.src = r.doc_id
             JOIN deg dg ON dg.v = e.src
             GROUP BY 1),
           r$i AS (
             SELECT v.doc_id,
                    (SELECT t FROM tele)
                      + (85 * coalesce(s.cs, CAST(0 AS BIGINT))) // 100
                      AS r
             FROM verts v LEFT JOIN s$i s ON s.doc_id = v.doc_id)"""
    }.mkString(",\n           ")
    s"""WITH ${pairsCtes(docFilter, tau)},
           verts AS (SELECT doc_id FROM documents$docFilter),
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db AS src, da AS dst FROM pairs),
           deg AS (SELECT src AS v, count(*) AS dg FROM edges GROUP BY 1),
           nn AS (SELECT count(*) AS n FROM verts),
           tele AS (SELECT (15 * $PrUnit) // (100 * n) AS t FROM nn),
           r0 AS (SELECT doc_id, $PrUnit // n AS r FROM verts, nn),
           $rounds
         SELECT doc_id, CAST(r AS DOUBLE) / 1e15 AS rank
         FROM r10 ORDER BY doc_id"""
  }

  /** D3's banding + estimate chain from the signature dump, shared by
    * the d3 and d6 oracles: band keys are the comma-joined raw slice
    * values (exactly the string Spark feeds xxhash64 — bucket equality
    * under the hash IS slice-string equality, collisions aside), the
    * estimate the matching-position count over the position-exploded
    * signatures, the ≥ 0.5 threshold exact (m/32 is a dyadic
    * rational). */
  private[operators] def d3CandCtes: String =
    s"""sigs AS (SELECT doc_id, sig FROM '${Dumps.oraclePath("d3_sigs")}/*.parquet'),
           bd AS (
             SELECT doc_id, j AS band,
                    array_to_string(
                      sig[(j*$RowsPerBand+1):(j*$RowsPerBand+$RowsPerBand)],
                      ',') AS bk
             FROM sigs,
                  (SELECT unnest(generate_series(0, ${Bands - 1})) AS j) js),
           cand0 AS (
             SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
             FROM bd a JOIN bd b
               ON a.band = b.band AND a.bk = b.bk
              AND a.doc_id < b.doc_id),
           pos AS (
             SELECT doc_id, generate_subscripts(sig, 1) AS i,
                    unnest(sig) AS v
             FROM sigs),
           mm AS (
             SELECT c.da, c.db, count(*) AS m
             FROM cand0 c
             JOIN pos pa ON pa.doc_id = c.da
             JOIN pos pb ON pb.doc_id = c.db
                        AND pb.i = pa.i AND pb.v = pa.v
             GROUP BY 1, 2),
           cand AS (
             SELECT da, db,
                    round(m / CAST($NumHashes AS DOUBLE), 6) AS est_jaccard
             FROM mm
             WHERE m / CAST($NumHashes AS DOUBLE) >= CAST(0.5 AS DOUBLE))"""

  /** D8's banding + Hamming verify from the bit-sum dump, ending in
    * `prs(da, db, hamming)` — shared by the d8 and d29 oracles (band
    * b's key is Σ bit_{16b+r}·2^r — exactly Spark's
    * (sh >> 16b) & 0xFFFF; hamming the 64-term bit disagreement). */
  private def d8PairsCtes: String = {
    val bandSelects = (0 until 4).map { b =>
      val key = (0 until 16).map(r =>
        s"(CASE WHEN s${16 * b + r} > 0 THEN ${1 << r} ELSE 0 END)")
        .mkString(" + ")
      s"SELECT doc_id, $b AS band, $key AS bk FROM sums"
    }.mkString("\n           UNION ALL ")
    val ham = (0 until 64).map(i =>
      s"(CASE WHEN (a.s$i > 0) <> (b.s$i > 0) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""sums AS (SELECT * FROM '${Dumps.oraclePath("d8_sums")}/*.parquet'),
           bd AS ($bandSelects),
           cand AS (
             SELECT DISTINCT ba.doc_id AS da, bb.doc_id AS db
             FROM bd ba JOIN bd bb
               ON ba.band = bb.band AND ba.bk = bb.bk
              AND ba.doc_id < bb.doc_id),
           prs AS (
             SELECT c.da, c.db, CAST($ham AS BIGINT) AS hamming
             FROM cand c
             JOIN sums a ON a.doc_id = c.da
             JOIN sums b ON b.doc_id = c.db
             WHERE $ham <= 3)"""
  }

  /** Until round 12 the whole hash family was rows-only (xxhash64 has
    * no DuckDB twin). The materialized-intermediate dumps (D3SigDump /
    * D8SumsDump) now let the oracle replay everything downstream of
    * the hashes — banding, bucket joins, estimates, exact verify,
    * thresholds — so only the seeded hashing itself rests on the
    * DedupSpec anchors. */
  val oracles: Map[String, String] = Map(
    // D3: banding + estimate replayed from the signature dump
    "d3_minhash_lsh" ->
      s"""WITH $d3CandCtes
         SELECT da, db, est_jaccard FROM cand ORDER BY da, db""",
    // D6: D3's candidates + the exact shingle verify (the D2 SQL)
    // restricted to candidate docs; docs with no shingles cannot be
    // candidates (they have no signature), so the inner sizes joins
    // drop nothing
    "d6_lsh_verified" ->
      s"""WITH $d3CandCtes,
           cdocs AS (SELECT da AS doc_id FROM cand
                     UNION SELECT db FROM cand),
           ${interCtes(cdocsTokens, "shg")}
         SELECT c.da, c.db, c.est_jaccard,
                round(CAST(coalesce(i.i, 0) AS DOUBLE) /
                      (x.sz + y.sz - coalesce(i.i, 0)), 6) AS true_jaccard
         FROM cand c
         JOIN sizes x ON c.da = x.doc_id
         JOIN sizes y ON c.db = y.doc_id
         LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
         ORDER BY c.da, c.db""",
    // D4: the s_i > 0 thresholding + 63..0 bitstring render from the
    // bit-sum dump
    "d4_simhash" ->
      s"""SELECT doc_id,
                ${(63 to 0 by -1).map(i =>
                    s"(CASE WHEN s$i > 0 THEN '1' ELSE '0' END)")
                  .mkString(" || ")} AS simhash
         FROM '${Dumps.oraclePath("d8_sums")}/*.parquet' ORDER BY doc_id""",
    // D8: 4×16 banding + bucket join + 64-term bit disagreement from
    // the bit-sum dump (band b's key is Σ bit_{16b+r}·2^r — exactly
    // Spark's (sh >> 16b) & 0xFFFF)
    "d8_simhash_pairs" ->
      s"""WITH $d8PairsCtes
         SELECT da, db, hamming FROM prs ORDER BY da, db""",
    // D29: the d8 pair replay + the d16 recursive min-propagation
    // closure over the full vertex set
    "d29_simhash_clusters" ->
      s"""WITH RECURSIVE $d8PairsCtes,
           edges AS (SELECT da AS src, db AS dst FROM prs
                     UNION SELECT db AS src, da AS dst FROM prs),
           ${reachCte("edges", "documents")}
         SELECT id AS doc_id, min(r) AS canonical_id FROM reach
         GROUP BY id ORDER BY doc_id""",
    // D11: the demo-slice pair graph (doc_id < 100, J ≥ 0.02), then
    // ten unrolled decimal-pinned power-iteration rounds — flipped
    // from rows-only in round 11 by the kernel's determinism
    // contract (see pageRank / pageRankOracle scaladoc)
    "d11_pagerank" -> pageRankOracle(" WHERE doc_id < 100", "0.02"),
    // D11b: the exhaustive FULL-CORPUS 0.5 graph (hash match again
    // proves banded LSH recall, as for d10b/d12b/d13b/d14b), then
    // the same ten unrolled rounds
    "d11_pr_corpus" -> pageRankOracle("", "0.5"),
    // D14: the demo-slice pair graph + the four unrolled integer
    // label-propagation rounds (exactly the d14_lpa_corpus SQL,
    // scoped to the slice)
    "d14_label_prop" ->
      s"""WITH ${pairsCtes(" WHERE doc_id < 100", "0.02")},
           ${lpaCtes("edges AS", " WHERE doc_id < 100")}
         SELECT doc_id, label FROM l4 ORDER BY doc_id""",
    // D10b: exhaustive exact-Jaccard pairs over the FULL corpus at
    // the same 0.5 threshold, closed by recursive min-propagation —
    // hash equality proves the engine's banded LSH path recalled
    // every exhaustive edge (verifiedCorpusPairs' contract)
    "d10_cc_corpus" ->
      s"""WITH RECURSIVE
           ${pairsCtes("", "0.5")},
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION SELECT db AS src, da AS dst FROM pairs),
           ${reachCte("edges", "documents")}
         SELECT id AS doc_id, min(r) AS canonical_id FROM reach
         GROUP BY id ORDER BY doc_id""",
    // D12b: same exhaustive full-corpus pair graph at 0.5, then the
    // identical degree-ordered orientation + wedge-close arithmetic
    "d12_tri_corpus" ->
      s"""WITH ${pairsCtes("", "0.5")},
           $TriangleCtes
         SELECT doc_id, count(*) AS n_tri
         FROM (SELECT unnest([u, v1, w1]) AS doc_id FROM tri)
         GROUP BY 1 ORDER BY doc_id""",
    // D14b: the same exhaustive full-corpus 0.5 graph, then the FOUR
    // synchronous label-propagation rounds UNROLLED as chained CTEs —
    // iteration count is a fixed literal of the operator, so no
    // recursion is needed, and every update (per-(node, label) vote
    // counts + the count-desc/label-asc tiebreak) is pure integer
    // arithmetic with a total order: bit-exact on both engines. The
    // hash match certifies the engine's iterative kernel AND (again)
    // the banded LSH edge recall; the sequential-recompute spec
    // anchor stays as the third leg (DedupSpec).
    "d14_lpa_corpus" ->
      s"""WITH ${pairsCtes("", "0.5")},
           ${lpaCtes("edges AS")}
         SELECT doc_id, label FROM l4 ORDER BY doc_id""",
    // D24: the exhaustive corpus 0.5 graph, the SAME unrolled 4-round
    // LPA as d14_lpa_corpus, then the per-community modularity
    // arithmetic — integer cells (edge counts, degree sums; the
    // BIGINT casts pin DuckDB's HUGEINT sum widening, the a57/f12/w27
    // lint class), the q chain phrased operation-for-operation like
    // the engine (two divisions, one self-multiply, one subtraction)
    "d24_modularity" ->
      s"""WITH ${pairsCtes("", "0.5", pairsAs = "pairs AS MATERIALIZED")},
           ${lpaCtes("edges AS MATERIALIZED")},
           deg AS (
             SELECT v AS doc_id, count(*) AS deg FROM (
               SELECT da AS v FROM pairs
               UNION ALL SELECT db AS v FROM pairs)
             GROUP BY 1),
           mem AS (
             SELECT l.doc_id, l.label, deg.deg
             FROM l4 l JOIN deg USING (doc_id)),
           mm AS (SELECT count(*) AS m FROM pairs),
           dt AS (
             SELECT label, count(*) AS n_nodes,
                    CAST(sum(deg) AS BIGINT) AS d_total
             FROM mem GROUP BY 1),
           li AS (
             SELECT a.label, count(*) AS l_intra
             FROM pairs p
             JOIN mem a ON p.da = a.doc_id
             JOIN mem b ON p.db = b.doc_id AND a.label = b.label
             GROUP BY 1)
         SELECT dt.label, dt.n_nodes,
                CAST(coalesce(li.l_intra, 0) AS BIGINT) AS l_intra,
                dt.d_total, mm.m,
                CAST(coalesce(li.l_intra, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE)
                  - (CAST(dt.d_total AS DOUBLE) / CAST(mm.m * 2 AS DOUBLE))
                    * (CAST(dt.d_total AS DOUBLE) / CAST(mm.m * 2 AS DOUBLE))
                  AS q_contrib
         FROM dt LEFT JOIN li USING (label), mm
         ORDER BY dt.label""",
    // D25: the exhaustive corpus 0.5 graph, directed edge copies,
    // integer degrees, then the per-edge common-neighbor join —
    // COUNTs stay BIGINT (the HUGEINT lint class pinned via CAST),
    // each 1/ln term r6'd onto the exact decimal grid before the
    // fold, bridges kept via LEFT JOIN + coalesce
    // D28: the exhaustive corpus 0.5 graph joined to doc sources,
    // unordered (source, source) cells by least/greatest, BIGINT
    // counts, the share one exact-integer division
    "d28_source_overlap" ->
      s"""WITH ${pairsCtes("", "0.5")},
           src AS (SELECT doc_id, source FROM documents),
           cells AS (
             SELECT least(sa.source, sb.source) AS source_a,
                    greatest(sa.source, sb.source) AS source_b,
                    CAST(count(*) AS BIGINT) AS n_pairs
             FROM pairs p
             JOIN src sa ON sa.doc_id = p.da
             JOIN src sb ON sb.doc_id = p.db
             GROUP BY 1, 2),
           tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n_total
                   FROM cells)
         SELECT source_a, source_b, n_pairs,
                source_a <> source_b AS is_cross,
                CAST(n_pairs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
         FROM cells, tot
         ORDER BY source_a, source_b""",
    "d25_edge_strength" ->
      s"""WITH ${pairsCtes("", "0.5")},
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db AS src, da AS dst FROM pairs),
           deg AS (SELECT src AS v, count(*) AS deg FROM edges
                   GROUP BY 1),
           cn AS (
             SELECT p.da, p.db, count(*) AS common_cnt,
                    CAST(CAST(sum(CAST(round(
                        CAST(1 AS DOUBLE) / ln(CAST(dg.deg AS DOUBLE)), 6)
                      AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS aa
             FROM pairs p
             JOIN edges ea ON ea.src = p.da
             JOIN edges eb ON eb.src = p.db AND eb.dst = ea.dst
             JOIN deg dg ON dg.v = ea.dst
             GROUP BY 1, 2)
         SELECT p.da, p.db,
                CAST(coalesce(cn.common_cnt, 0) AS BIGINT) AS common_cnt,
                round(coalesce(cn.aa, 0), 6) AS aa_score
         FROM pairs p LEFT JOIN cn USING (da, db)
         ORDER BY da, db""",
    // D26: the exhaustive corpus 0.5 graph, directed edge copies,
    // integer degrees and common-neighbor counts, the union by the
    // same integer identity, the lone division in exact CASE-guarded
    // double form (counts BIGINT-cast — the HUGEINT lint class)
    "d26_edge_jaccard" ->
      s"""WITH ${pairsCtes("", "0.5")},
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION ALL SELECT db AS src, da AS dst FROM pairs),
           deg AS (SELECT src AS v, count(*) AS deg FROM edges
                   GROUP BY 1),
           cn AS (
             SELECT p.da, p.db, count(*) AS common_cnt
             FROM pairs p
             JOIN edges ea ON ea.src = p.da
             JOIN edges eb ON eb.src = p.db AND eb.dst = ea.dst
             GROUP BY 1, 2)
         SELECT p.da, p.db,
                CAST(da_deg.deg AS BIGINT) AS deg_a,
                CAST(db_deg.deg AS BIGINT) AS deg_b,
                CAST(coalesce(cn.common_cnt, 0) AS BIGINT) AS common_cnt,
                CAST(da_deg.deg + db_deg.deg - 2
                     - coalesce(cn.common_cnt, 0) AS BIGINT) AS union_cnt,
                CASE WHEN da_deg.deg + db_deg.deg - 2
                          - coalesce(cn.common_cnt, 0) = 0
                     THEN CAST(0 AS DOUBLE)
                     ELSE CAST(coalesce(cn.common_cnt, 0) AS DOUBLE) /
                          CAST(da_deg.deg + db_deg.deg - 2
                               - coalesce(cn.common_cnt, 0) AS DOUBLE)
                END AS nbr_jaccard
         FROM pairs p
         LEFT JOIN cn USING (da, db)
         JOIN deg da_deg ON da_deg.v = p.da
         JOIN deg db_deg ON db_deg.v = p.db
         ORDER BY da, db""",
    // D27: the exhaustive corpus 0.5 graph, D23's MATERIALIZED
    // distance shells for the bounded eccentricity, the recursive
    // closure (d10's) for component ids, integer min/max per
    // component, boolean flags by integer equality — no floats at all
    "d27_eccentricity" ->
      s"""WITH RECURSIVE ${pairsCtes("", "0.5")},
           $ShellCtes,
           c1 AS (SELECT v, CAST(count(*) AS BIGINT) AS n1
                  FROM r1 GROUP BY 1),
           c2 AS (SELECT v, CAST(count(*) AS BIGINT) AS n2
                  FROM r2 GROUP BY 1),
           c3 AS (SELECT v, CAST(count(*) AS BIGINT) AS n3
                  FROM r3 GROUP BY 1),
           ecc AS (
             SELECT c1.v AS doc_id,
                    CASE WHEN coalesce(c3.n3, 0) > 0 THEN CAST(3 AS BIGINT)
                         WHEN coalesce(c2.n2, 0) > 0 THEN CAST(2 AS BIGINT)
                         ELSE CAST(1 AS BIGINT) END AS ecc,
                    c1.n1 + coalesce(c2.n2, 0) + coalesce(c3.n3, 0)
                      AS reach
             FROM c1 LEFT JOIN c2 ON c1.v = c2.v
                     LEFT JOIN c3 ON c1.v = c3.v),
           gedges AS (SELECT da AS src, db AS dst FROM pairs
                      UNION SELECT db AS src, da AS dst FROM pairs),
           closure AS (
             SELECT doc_id AS id, doc_id AS r FROM documents
             UNION
             SELECT closure.id, e.dst FROM closure
             JOIN gedges e ON closure.r = e.src),
           comp AS (SELECT id AS doc_id, min(r) AS component
                    FROM closure GROUP BY id),
           mem AS (SELECT ecc.doc_id, comp.component, ecc.ecc, ecc.reach
                   FROM ecc JOIN comp USING (doc_id)),
           st AS (SELECT component, min(ecc) AS min_ecc,
                         max(ecc) AS max_ecc
                  FROM mem GROUP BY 1)
         SELECT mem.doc_id, mem.component, mem.ecc, mem.reach,
                mem.ecc = st.min_ecc AS is_center,
                mem.ecc = st.max_ecc AS is_periphery
         FROM mem JOIN st USING (component)
         ORDER BY doc_id""",
    // D21: the exhaustive corpus 0.5 graph, then the SAME 8+8
    // synchronous peel rounds unrolled as chained CTEs (fixed-round
    // literal of the operator — no recursion, pure integer set
    // arithmetic, bit-exact on both engines). Every round CTE is
    // MATERIALIZED: DuckDB inlines CTEs by default, and each round
    // references its predecessor 4× — unmaterialized, the 16-round
    // chain re-expands the base scan 4¹⁶ times and dies on file
    // handles before it dies on CPU.
    "d21_kcore" ->
      s"""WITH ${pairsCtes("", "0.5", pairsAs = "pairs AS MATERIALIZED")},
           ${peelCtes(2, 2, "pairs")},
           ${peelCtes(3, 3, "e2_8")},
           c1 AS (
             SELECT DISTINCT v FROM (SELECT da AS v FROM pairs
                                     UNION ALL SELECT db AS v FROM pairs))
         SELECT d.doc_id,
                CAST(CASE WHEN d.doc_id IN (SELECT v FROM n3_8) THEN 3
                          WHEN d.doc_id IN (SELECT v FROM n2_8) THEN 2
                          WHEN d.doc_id IN (SELECT v FROM c1) THEN 1
                          ELSE 0 END AS BIGINT) AS coreness
         FROM documents d ORDER BY doc_id""",
    // D23: exhaustive graph; 3 MATERIALIZED shell CTEs (distinct +
    // tuple NOT IN against nearer shells), the same fixed fold
    "d23_harmonic" ->
      s"""WITH ${pairsCtes("", "0.5", pairsAs = "pairs AS MATERIALIZED")},
           $ShellCtes,
           c1 AS (SELECT v, CAST(count(*) AS BIGINT) AS n1
                  FROM r1 GROUP BY 1),
           c2 AS (SELECT v, CAST(count(*) AS BIGINT) AS n2
                  FROM r2 GROUP BY 1),
           c3 AS (SELECT v, CAST(count(*) AS BIGINT) AS n3
                  FROM r3 GROUP BY 1)
         SELECT c1.v AS doc_id, c1.n1,
                coalesce(c2.n2, 0) AS n2, coalesce(c3.n3, 0) AS n3,
                CAST(c1.n1 AS DOUBLE) +
                  CAST(coalesce(c2.n2, 0) AS DOUBLE) / 2 +
                  CAST(coalesce(c3.n3, 0) AS DOUBLE) / 3 AS harmonic
         FROM c1 LEFT JOIN c2 ON c1.v = c2.v
                 LEFT JOIN c3 ON c1.v = c3.v
         ORDER BY doc_id""",
    // D22: same exhaustive graph; Newman's r over directed edge
    // copies — integer sums, one division
    "d22_assortativity" ->
      s"""WITH ${pairsCtes("", "0.5")},
           deg AS (
             SELECT v, CAST(count(*) AS BIGINT) AS dg FROM (
               SELECT da AS v FROM pairs
               UNION ALL SELECT db AS v FROM pairs)
             GROUP BY 1),
           nodes AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
           dir AS (
             SELECT da, db FROM pairs
             UNION ALL SELECT db AS da, da AS db FROM pairs),
           de AS (
             SELECT x.dg AS j, y.dg AS k
             FROM dir JOIN deg x ON dir.da = x.v
                      JOIN deg y ON dir.db = y.v),
           agg AS (
             SELECT CAST(count(*) AS BIGINT) AS m2,
                    CAST(sum(j * k) AS BIGINT) AS sjk,
                    CAST(sum(j) AS BIGINT) AS sj,
                    CAST(sum(j * j) AS BIGINT) AS sj2
             FROM de)
         SELECT CAST(CAST(m2 AS DOUBLE) / 2 AS BIGINT) AS n_edges,
                n_nodes,
                CAST(m2 * sjk - sj * sj AS DOUBLE) /
                  CAST(m2 * sj2 - sj * sj AS DOUBLE) AS assortativity
         FROM agg, nodes WHERE m2 * sj2 - sj * sj <> 0""",
    // D13b: d12_tri_corpus's exhaustive full-corpus CTE chain + the
    // d13 degree normalization (deg < 2 excluded) — hash equality
    // again proves the banded LSH graph recalled every exhaustive
    // edge before the coefficient arithmetic ran
    "d13_coeff_corpus" ->
      clusteringSql("", "0.5"),
    // same pair SQL (maxId 200, threshold 0.01), then the identical
    // degree-ordered orientation + wedge-close join as the query
    "d12_triangle_count" ->
      s"""WITH ${pairsCtes(" WHERE doc_id < 200", "0.01")},
           $TriangleCtes
         SELECT doc_id, count(*) AS n_tri
         FROM (SELECT unnest([u, v1, w1]) AS doc_id FROM tri)
         GROUP BY 1 ORDER BY doc_id""",
    // d12's CTE chain + degree normalization; deg < 2 excluded
    "d13_clustering_coeff" ->
      clusteringSql(" WHERE doc_id < 200", "0.01"),
    // same pair SQL as d2 (threshold 0.02), components via recursive
    // transitive closure: reach(id, r) = every doc reachable from id,
    // canonical = min reachable
    "d10_dup_clusters" ->
      s"""WITH RECURSIVE
           ${pairsCtes(" WHERE doc_id < 100", "0.02")},
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION SELECT db AS src, da AS dst FROM pairs),
           ${reachCte("edges", "docs")}
         SELECT id AS doc_id, min(r) AS canonical_id FROM reach
         GROUP BY id ORDER BY doc_id""",
    // d10's recursive-CTE components extended with the longest-copy
    // pick — pure integer comparisons
    "d20_keep_best" ->
      s"""WITH RECURSIVE
           ${pairsCtes(" WHERE doc_id < 100", "0.02")},
           edges AS (SELECT da AS src, db AS dst FROM pairs
                     UNION SELECT db AS src, da AS dst FROM pairs),
           ${reachCte("edges", "docs")},
           comp AS (
             SELECT id AS doc_id, min(r) AS canonical_id FROM reach
             GROUP BY id),
           ranked AS (
             SELECT c.doc_id, c.canonical_id, d.n_chars,
                    row_number() OVER (PARTITION BY c.canonical_id
                      ORDER BY d.n_chars DESC, c.doc_id) AS pick
             FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
         SELECT doc_id, canonical_id, n_chars, pick = 1 AS keep
         FROM ranked ORDER BY doc_id""",
    "d7_incremental_new" ->
      """SELECT i.doc_id FROM documents i
         WHERE i.doc_id % 4 = 0 AND NOT EXISTS (
           SELECT 1 FROM documents e
           WHERE e.doc_id % 4 <> 0 AND md5(e.text) = md5(i.text))
         ORDER BY i.doc_id""")
}
