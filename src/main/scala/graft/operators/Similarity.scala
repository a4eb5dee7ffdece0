package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Similarity search over the embedding column (`Array[Float]`, 64-d):
  * brute-force cosine top-k (baseline), LSH-bucketed ANN (scale path)
  * and embedding-cosine near-duplicate pairs.
  *
  * All vector math runs through the [[graft.functions.DotProduct]]
  * codegen kernel — no UDF in the hot path, and no interpreted
  * higher-order functions either (the `aggregate(zip_with(...))`
  * formulation it replaced never entered codegen and allocated an
  * intermediate array per row; the kernel preserves its index-order
  * summation bit-for-bit, which is what keeps SIM1 hash-equal to the
  * DuckDB oracle's list_sum).
  *
  * Scale notes: brute force is O(|Q|·N) with the query side broadcast —
  * correct baseline, unusable at 100 TB. The LSH variant hashes both
  * sides into 6 bands × 3 hyperplane-sign bits: candidates co-locate
  * by a (band, bucket) equi-join and the bands are OR-ed (union +
  * dedup), trading a 6× explode for amplified recall — the same
  * banding trade as the MinHash dedup path. Per band the candidate
  * space drops ~8×; the ANALYTIC candidate probability at cosine 0.5
  * is 1−(1−p³)⁶ ≈ 0.88 (vs 0.16 for a single 8-bit bucket). Measured
  * top-5 recall vs the exact baseline (SimilaritySpec, deterministic
  * seeded hashes): LSH 0.68 at sf0.001 / 0.80 at sf0.1; IVF(nprobe=2)
  * 0.34 at both — sf0.001's true top-5 cosines are only 0.26–0.39 on
  * the near-random synthetic embeddings, which caps any bucketing.
  */
object Similarity {

  private def r6(c: Column): Column = round(c, 6)

  /** Σ aᵢ·bᵢ in index order (deterministic fp) — the codegen kernel;
    * DotProductSpec pins it to the HOF fold it replaced. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** Per-label centroid arrays, QUANTIZED at 1e-6 as the operator
    * contract (SIM15's lesson, shared verbatim by SIM16): each
    * dimension is a decimal-pinned mean rendered through round(·,6),
    * so every downstream double computed FROM a centroid is
    * bit-identical across engines. One (label, dim) hash agg →
    * ≤|labels| rows. */
  private def quantizedCentroids(emb: DataFrame): DataFrame = {
    val means = emb
      .select(col("label"), posexplode(col("embedding"))
        .as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(round(sum(col("x").cast("double").cast("decimal(30,12)"))
        .cast("double") / count(lit(1)), 6).as("mean"))
    means.groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("mean"))))
        .as("sm"))
      .select(col("label"),
        transform(col("sm"), s => s.getField("mean")).as("cent"))
  }

  /** SIM16's kernel: the pairwise (cosine, squared-Euclidean) grid
    * between per-label quantized centroids — a broadcast self-join
    * of the ≤|labels|-row centroid frame; on 1e-6-quantized inputs
    * every dot/norm fold is index-ordered and bit-identical across
    * engines, so both outputs ship as raw doubles. Factored so the
    * spec can drive it on planted vectors with hand-computable
    * cosines. */
  private[graft] def centroidGrid(emb: DataFrame): DataFrame = {
    val cents = quantizedCentroids(emb)
    val a = cents.select(col("label").cast("long").as("label_a"),
      col("cent").as("ca"))
    val b = cents.select(col("label").cast("long").as("label_b"),
      col("cent").as("cb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        (dot(col("ca"), col("cb")) /
          (sqrt(dot(col("ca"), col("ca"))) *
           sqrt(dot(col("cb"), col("cb"))))).as("cosine"),
        (dot(col("ca"), col("ca")) -
          lit(2.0) * dot(col("ca"), col("cb")) +
          dot(col("cb"), col("cb"))).as("dist2"))
      .orderBy("label_a", "label_b")
  }

  /** 18 deterministic hyperplanes (splitmix64 components), used
    * as 6 bands × 3 sign bits. One band of many bits prunes hard but
    * misses neighbors (measured recall 0.16 with a single 8-bit
    * bucket); OR-ing bands amplifies: P(candidate) = 1−(1−p³)⁶ for
    * per-bit agreement p = 1−θ/π, ≈0.88 at cosine 0.5 — the same
    * band-amplification trade the MinHash path (Dedup.scala) makes. */
  private val NumPlanes = 18
  private val SimBands = 6
  private val BitsPerBand = NumPlanes / SimBands

  /** splitmix64 → uniform in [-1, 1): deterministic, and — unlike a
    * shared-frequency cosine sequence, whose planes all lie in one
    * 2-D subspace and yield correlated sign bits — statistically
    * independent components per (plane, dim). */
  private def sm64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private val planes: Seq[Seq[Double]] =
    (0 until NumPlanes).map(p => (0 until 64).map(i =>
      sm64(p.toLong * 64 + i).toDouble / Long.MaxValue))

  /** Sign bit of v against hyperplane p. */
  private def signBit(v: Column, p: Int): Column = {
    val plc = array(planes(p).map(lit): _*)
    when(dot(v, plc) > 0, 1).otherwise(0)
  }

  /** Exploded (band, bucket) rows — a vector lands in SimBands buckets,
    * candidates are bucket-mates in ANY band (union via the equi-join
    * key (band, bkt) + dropDuplicates). */
  private def banded(v: Column): Column =
    explode(array((0 until SimBands).map { b =>
      val bits = (0 until BitsPerBand)
        .map(r => signBit(v, b * BitsPerBand + r) * lit(1 << r))
        .reduce(_ + _)
      struct(lit(b).as("band"), bits.as("bkt"))
    }: _*))

  /** SIM5's random projection: 16 dense hyperplanes of splitmix64
    * components (seed base disjoint from [[planes]]) — the
    * Johnson-Lindenstrauss dimensionality reduction every large ANN
    * deployment considers before quantization: 64-d → 16-d makes
    * every downstream dot product 4× cheaper while distorting
    * pairwise angles by a bounded factor (recall vs the exact top-k
    * measured in SimilaritySpec). Cosine is scale-invariant, so the
    * components need no 1/√k normalization. */
  private val JlDims = 16

  /** SIM8 coarse-stage width: the Matryoshka prefix (first 16 of 64
    * dims), the truncation analogue of the JL projection. */
  private val MrlDims = 16
  private val jlPlanes: Seq[Seq[Double]] =
    (0 until JlDims).map(k => (0 until 64).map(i =>
      sm64(0x51AC0DE5L + k.toLong * 64 + i).toDouble / Long.MaxValue))

  /** The 16 projected components — 16 codegen dots against literal
    * plane arrays, one stateless map over the corpus. */
  private def jlProject(v: Column): Column =
    array(jlPlanes.map(p => dot(v, array(p.map(lit): _*))): _*)

  /** Oracle fragment computing the identical projection in DuckDB:
    * plane components emitted as 17-digit e-notation literals (parse
    * as DOUBLE, round-trip the exact Scala double), summed in index
    * order like the codegen kernel — projections match bit-for-bit. */
  private def jlProjCte: String = {
    def lits(k: Int): String = jlPlanes(k)
      .map(x => "%.17e".formatLocal(java.util.Locale.ROOT, x))
      .mkString("[", ", ", "]")
    val projs = (0 until JlDims).map(k =>
      s"list_sum(list_transform(generate_series(1, 64)," +
        s" i -> e[i] * (${lits(k)})[i]))").mkString(",\n             ")
    s"""WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         pj AS (
           SELECT vec_id, [$projs] AS p
           FROM v)"""
  }

  // ---- SIM6: product quantization (Jégou, Douze & Schmid 2011) --------

  private val PqM = 16  // subspaces (16×4 beats 8×8 here: measured
                        // shortlist-100 recall 0.98 vs 0.82 at sf0.001,
                        // 0.76 vs 0.48 at sf0.1 — finer cells compensate
                        // for the training-free codebook)
  private val PqK = 16  // codes per subspace
  private val PqD = 4   // dims per subspace (64 / PqM)

  /** PQ codebooks: subspace slices of the SAME 16 deterministically
    * sampled corpus vectors the IVF coarse quantizer uses — no k-means
    * training (which would be seed/iteration-order dependent), but the
    * complete PQ mechanism: per-subspace nearest-code assignment and
    * asymmetric-distance (ADC) probes. cb(j)(c) = the 4-dim code c of
    * subspace j. Deterministic sample → both queries fully
    * oracle-checkable (the oracle recomputes the identical codebook in
    * SQL). */
  private def pqCodebook(s: SparkSession, d: String)
      : Array[Array[Array[Double]]] = {
    val cents = centroids(s, d)
    Array.tabulate(PqM, PqK) { (j, c) =>
      cents(c)._2.slice(j * PqD, (j + 1) * PqD).toArray
    }
  }

  /** The codebook as the compiled-kernel reference object — encode
    * and LUT arithmetic run as ONE static call per row inside
    * whole-stage codegen ([[graft.functions.PqKernel]]; both an
    * inlined-Column form and a per-subspace DotProduct form blew
    * janino's 64 KB method limit and fell back to interpreted).
    * Arithmetic contract (kernel ≡ oracle, bit-identical): index-order
    * sums, d² = (‖x_j‖² − 2·x_j·c) + ‖c‖², first-minimal code. */
  private def pqBook(s: SparkSession, d: String)
      : graft.functions.PqKernel.Book =
    new graft.functions.PqKernel.Book(pqCodebook(s, d))

  /** ‖code‖² literals of subspace j (the kernel's own cn2 — identical
    * index-order sums). */
  private def pqCodeNorm2(book: graft.functions.PqKernel.Book,
      j: Int): Column =
    array(book.cn2(j).map(lit).toIndexedSeq: _*)

  /** The PQ-encoded corpus: vec_id, the 16 sub-codes (1-based), and
    * the reconstructed norm ‖x̂‖ = √Σⱼ‖codeⱼ‖² — 64 floats compress to
    * 16 nibble-sized codes (the 16× memory cut that makes
    * billion-vector search RAM-resident). One stateless map over the
    * corpus — the "index build" is embarrassingly parallel, no shuffle
    * until the consumer. */
  private def pqEncoded(s: SparkSession, d: String): DataFrame = {
    val book = pqBook(s, d)
    val withCodes = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .withColumn("codes", graft.functions.PqCodec.encode(book)(col("embedding")))
    val flat = (1 to PqM).foldLeft(withCodes) { (df, j) =>
      df.withColumn(s"code_$j", element_at(col("codes"), j))
    }
    flat.withColumn("xhat_n", sqrt((0 until PqM).map(j =>
      element_at(pqCodeNorm2(book, j), col(s"code_${j + 1}").cast("int")))
      .reduce(_ + _)))
  }

  /** SIM4 scalar quantization: per-vector symmetric int8 — scale =
    * 127 / max|xᵢ|, qᵢ = round(xᵢ·scale) ∈ [-127, 127]. The SQ8
    * compression every large ANN deployment applies before the index
    * (4× smaller vectors, integer SIMD dots); here the quantized
    * values ride in DOUBLE arrays so the [[graft.functions.DotProduct]]
    * kernel runs them unchanged — every product and partial sum is an
    * exact integer below 2⁵³ (|q|≤127, 64 dims → |Σ|≤127²·64 ≈ 10⁶),
    * so quantized dots are EXACT and order-insensitive, which is what
    * makes the quantized top-k fully oracle-checkable where the float
    * cosine paths need index-order summation. Zero vectors (max|x|=0)
    * have no quantization and are filtered on both engines. */
  private def quantized(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding"))
      .withColumn("mx", array_max(transform(col("embedding"), x => abs(x))))
      .filter(col("mx") > 0)
      .withColumn("scale", lit(127.0) / col("mx"))
      .withColumn("q",
        transform(col("embedding"), x => round(x * col("scale"))))
      .select(col("vec_id"), col("scale"), col("q"))

  /** SIM21 sign codes: bit i of half h = 1 iff embedding[h·32 + i]
    * > 0. Each half < 2³² — exact in both engines' BIGINT (see the
    * sim21 query note on why NOT one 64-bit word). */
  private def binaryCodes(emb: DataFrame): DataFrame = {
    def half(off: Int): Column =
      aggregate(sequence(lit(0), lit(31)), lit(0L),
        (acc, i) => acc + when(
          element_at(col("embedding"), (i + lit(off + 1)).cast("int")) > 0,
          pow(lit(2.0), i).cast("long")).otherwise(0L))
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("h1", half(0))
      .withColumn("h2", half(32))
      .select(col("vec_id"), col("h1"), col("h2"))
  }

  /** The IVF coarse quantizer: 16 deterministically sampled corpus
    * vectors (every 31st vec_id, first 16) as (id, components, norm),
    * collected once per (session, dir) — the probe side needs them on
    * the driver to rank lists, and re-collecting per invocation would
    * re-scan the corpus. Valid while the dir is immutable (the
    * [[graft.MaterializedTable]] contract); released by
    * [[invalidateIvf]]. */
  private val centCache =
    TrieMap.empty[(SparkSession, String), Array[(Long, Seq[Double], Double)]]
  // synchronized: getOrElseUpdate can race two corpus-scan collects
  // on first use (same rationale as MaterializedTable)
  private def centroids(s: SparkSession, d: String): Array[(Long, Seq[Double], Double)] =
    synchronized { centCache.getOrElseUpdate((s, d), {
      Tables.embeddings(s, d)
        .filter(col("vec_id") % 31 === 0)
        .orderBy("vec_id").limit(16)
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map { r =>
          val v = r.getSeq[Float](1).map(_.toDouble)
          (r.getLong(0), v, math.sqrt(v.map(x => x * x).sum))
        }
    })}

  /** Centroid-cosine struct array for ranking/argmax against the 16
    * inlined centroid literals. */
  private def centCos(cents: Array[(Long, Seq[Double], Double)])(
      v: Column, nrm: Column): Column = array(cents.toIndexedSeq.map {
    case (cid, cv, cn) =>
      struct((dot(v, array(cv.map(lit): _*)) / (nrm * cn)).as("cos"),
        lit(cid).as("cid"))
  }: _*)

  /** The IVF inverted lists: the corpus with every vector assigned to
    * its nearest centroid's list — (c_id, ce, cn, lst). This is the
    * "index build" of an IVF system, and it is the dominant cost of
    * SIM3 (16 codegen dot products per corpus row); real ANN engines
    * build it once and amortize it over every probe. Materialized once
    * per (session, dir) ([[graft.MaterializedTable]] lifecycle); Bench
    * times the build as its own `ivf_build` entry. */
  private def ivfIndexPlan(s: SparkSession, d: String): DataFrame = {
    val cents = centroids(s, d)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .withColumn("lst",
        array_max(centCos(cents)(col("embedding"), col("nrm")))
          .getField("cid"))
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("lst"))
  }
  // private: the quantizer cache and the inverted-list table must be
  // invalidated TOGETHER (a caller reaching the MaterializedTable's
  // own invalidate would leave a stale quantizer feeding a rebuilt
  // index) — ivfIndex/invalidateIvf below are the only surface
  private val ivfIndexTable = new graft.MaterializedTable(ivfIndexPlan)

  /** The materialized inverted lists for (session, dir) — the IVF
    * index build, built on first use. */
  def ivfIndex(s: SparkSession, d: String): DataFrame = ivfIndexTable(s, d)

  /** Drop the cached quantizer AND inverted lists for (session, dir) —
    * required before re-probing if data under the dir was rewritten.
    * The ONLY invalidation hook (quantizer and lists stay in sync). */
  def invalidateIvf(s: SparkSession, d: String): Unit = {
    centCache.remove((s, d))
    ivfIndexTable.invalidate(s, d)
  }

  /** The verified embedding near-dup pair graph (D9's output):
    * 6 hyperplane-sign bands → candidate bucket-mates → exact-cosine
    * verify ≥ τ = 0.35, with the codegen dot running BEFORE the dedup
    * shuffle so only τ-passing pairs shuffle (shuffling every wide
    * candidate row first was the dominant cost of this search).
    * Materialized once per (session, dir) — round 10: BOTH the pair
    * query (D9) and the cluster resolution (D16) consume the same
    * edge table, and the band join + verify is their dominant shared
    * cost (the corpus_pairs pattern); Bench times the build as its
    * own `emb_pairs_build` entry. Edge-count sized, so the persist
    * overhead is nil. */
  private[operators] def embPairsPlan(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .withColumn("bb", banded(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("bb.band").as("band"), col("bb.bkt").as("bkt"))
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"),
      col("nrm").as("na"), col("band"), col("bkt"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("nrm").as("nb"), col("band"), col("bkt"))
    a.join(b, Seq("band", "bkt"))
      .filter(col("va") < col("vb"))
      .withColumn("cosine",
        dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.35)
      .select(col("va"), col("vb"), r6(col("cosine")).as("cosine"))
      .dropDuplicates("va", "vb")
  }

  private[graft] val embPairs = new graft.MaterializedTable(embPairsPlan)

  /** D16's duplicate-grade cosine cut over the D9 edge table: 0.45
    * separates duplicate FAMILIES (clusters ≤ 4, diameter ≤ 3 at
    * every SF — measured) from the retrieval-similarity blob that
    * transitive closure at D9's τ = 0.35 produces (one 1,964-vector
    * component at sf0.1). Non-vacuous at all three SFs (7/14/121
    * non-trivial exact families). */
  private[operators] val EmbDupTau = 0.45

  /** Where d16 persists its threshold-filtered edge table — the
    * materialized intermediate its DuckDB oracle closes over (the
    * same artifact a production pipeline keeps from its one pair
    * search). Keyed by the sf dir (see [[Dumps]]): the driver
    * interleaves the sf0.01 correctness pass with the sf0.1 bench,
    * and a fixed path would let one execution overwrite the bytes a
    * pending oracle compare still needs. */
  private[operators] def D16EdgeDump(d: String) = Dumps.path("d16_edges", d)

  /** SIM2's (vec_id, band, bkt) hyperplane-sign buckets, dumped for
    * the oracle (the D16/D3 materialized-intermediate pattern, round
    * 12): the splitmix64 plane constants have no DuckDB twin, but
    * bucket join → dedup → cosine → top-k are all replayable from the
    * dump, and the engine reads the dump back so both sides consume
    * the identical bucket artifact. Keyed by sf dir (see [[Dumps]]). */
  private[operators] def Sim2BandDump(d: String) = Dumps.path("sim2_bands", d)

  /** The write-once [[Sim2BandDump]] read back (sim2, d9). */
  private def bandDump(s: SparkSession, d: String): DataFrame =
    Dumps.writeOnce(s, Sim2BandDump(d)) {
      Tables.embeddings(s, d)
        .select(col("vec_id"), banded(col("embedding")).as("bb"))
        .select(col("vec_id"), col("bb.band").as("band"),
          col("bb.bkt").as("bkt"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SIM11: per-dimension feature statistics — the normalization
    // constants every embedding pipeline precomputes before indexing
    // (mean-centering/whitening for PQ and IVF training, the
    // clipping ranges int8 SQ (SIM4) calibrates from, dead-dimension
    // detection): per dimension over the whole corpus, n, mean, std,
    // min, max. posexplode → one (dim) hash agg (map-side
    // combinable; 64 groups regardless of corpus size); float→
    // double casts exact, mean/std decimal-pinned (w23's moment
    // discipline), min/max exact picks. Fully oracle-checked.
    "sim11_feature_stats" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"),
          col("x").cast("double").as("x"))
      e.groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(30,12)")).cast("double").as("s1"),
          sum((col("x") * col("x")).cast("decimal(30,12)"))
            .cast("double").as("s2"),
          min(col("x")).as("xmin"), max(col("x")).as("xmax"))
        .select(col("dim"), col("n"),
          r6(col("s1") / col("n")).as("mean"),
          r6(sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1))).as("std"),
          col("xmin"), col("xmax"))
        .orderBy("dim")
    }),

    // SIM1: brute-force cosine top-5 per query vector (vec_id < 10).
    // SIM7: maximum-inner-product search (MIPS) — retrieval scored by
    // the RAW dot product, the objective recommender/reranker models
    // train for (cosine's normalization deliberately discards the
    // magnitude signal MIPS keeps). Brute-force exact baseline over
    // the same broadcast-query shape as SIM1; fully oracle-checked.
    // The SCALE path is the published norm-augmentation reduction
    // (Bachrach et al. 2014): append sqrt(M²−‖x‖²) to candidates and
    // 0 to queries — then every augmented vector has norm M, cosine
    // order equals dot order, and ALL the suite's cosine-ANN
    // machinery (SIM2/3/5/6) applies verbatim; SimilaritySpec proves
    // the reduction by asserting the augmented-cosine ranking is
    // row-identical to this query's.
    "sim7_mips_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val c = emb
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("c_id"))
      c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("score", dot(col("qe"), col("ce")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("score")).as("score"))
        .orderBy("q_id", "rank")
    }),

    // SIM12: range search — the OTHER retrieval primitive (faiss
    // range_search): "everything within the radius", variable
    // cardinality per query, where SIM1's top-k fixes the count and
    // silently pads with garbage when a query has few true neighbors
    // (dedup, recall evaluation and graph building all want the
    // radius form). Exact brute force: the query batch broadcasts
    // (50 rows) and every executor scans its candidate partition once
    // — one corpus pass for the WHOLE batch, no shuffle of the big
    // side, output bounded by the matches. Same codegen dot kernel
    // and (score desc, id) determinism as SIM1; the lossy accelerated
    // paths compose exactly as there (SIM2's sign-LSH bands or SIM3's
    // IVF lists gate candidates BEFORE this scan). Fully
    // oracle-checked — brute force IS the ground truth here.
    "sim12_range_search" -> ((s, d) => {
      val Tau = 0.25d
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
      val c = emb
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        .withColumn("cn", sqrt(dot(col("ce"), col("ce"))))
      c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cosine",
          dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .filter(col("cosine") >= Tau)
        .withColumn("rank", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cosine").desc, col("c_id"))).cast("long"))
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    "sim1_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
      val c = emb
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        .withColumn("cn", sqrt(dot(col("ce"), col("ce"))))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("c_id"))
      c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cosine",
          dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    // SIM14: MMR — maximal-marginal-relevance diversified top-k
    // (Carbonell & Goldstein 1998), the post-ANN rerank every
    // retrieval and training-data-diversity pipeline runs: greedily
    // pick k=5 of the top-20 candidates maximizing λ·sim(q,d) −
    // (1−λ)·max_{s∈S} sim(d,s) with λ = 0.7, so near-duplicates of
    // an already-picked result are penalized out in favor of NEW
    // information. Scale shape: the greedy loop runs on the BOUNDED
    // rerank frame (20 candidates/query → ≤400 pair sims), never the
    // corpus — SIM1's one broadcast-batch scan produces the frame,
    // then 5 keyed-join rounds of O(queries·20) rows each
    // (localCheckpoint keeps each round's plan flat, the D10
    // pattern). Determinism: sims are the index-ordered dot kernel
    // (bit-identical to DuckDB list_sum), the score one fixed 3-flop
    // chain on identical doubles (step 1's empty-set penalty is an
    // exact ·0.0), argmax tiebreaks (score DESC, c_id ASC) — so the
    // whole greedy trajectory is bit-reproducible and the oracle
    // UNROLLS the 5 steps as chained CTEs over a seed empty u0 (the
    // d11/d14 unrolling, now for a greedy selection).
    "sim14_mmr_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
      val c = emb
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        .withColumn("cn", sqrt(dot(col("ce"), col("ce"))))
      val w20 = Window.partitionBy("q_id")
        .orderBy(col("simq").desc, col("c_id"))
      val cand = c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("simq",
          dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("rk", row_number().over(w20))
        .filter(col("rk") <= 20)
        .select(col("q_id"), col("c_id"), col("ce"), col("cn"),
          col("simq"))
        .localCheckpoint()
      val pa = cand.select(col("q_id"), col("c_id").as("ca"),
        col("ce").as("ea"), col("cn").as("na"))
      val pb = cand.select(col("q_id"), col("c_id").as("cb"),
        col("ce").as("eb"), col("cn").as("nb"))
      val pairs = pa.join(pb, Seq("q_id"))
        .filter(col("ca") =!= col("cb"))
        .select(col("q_id"), col("ca"), col("cb"),
          (dot(col("ea"), col("eb")) / (col("na") * col("nb")))
            .as("simc"))
        .localCheckpoint()
      val base = cand.select(col("q_id"), col("c_id"), col("simq"))
      val wPick = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("c_id"))
      var sel: org.apache.spark.sql.DataFrame = null
      for (step <- 1 to 5) {
        val scored =
          if (sel == null) base.withColumn("maxpen", lit(0.0))
          else {
            val pen = pairs
              .join(sel.select(col("q_id"), col("c_id").as("cb")),
                Seq("q_id", "cb"))
              .groupBy(col("q_id"), col("ca"))
              .agg(max(col("simc")).as("maxpen"))
              .withColumnRenamed("ca", "c_id")
            base.join(sel.select(col("q_id"), col("c_id")),
                Seq("q_id", "c_id"), "left_anti")
              .join(pen, Seq("q_id", "c_id"), "left")
              .withColumn("maxpen", coalesce(col("maxpen"), lit(0.0)))
          }
        val pick = scored
          .withColumn("score",
            lit(0.7) * col("simq") - lit(0.3) * col("maxpen"))
          .withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .select(col("q_id"), lit(step.toLong).as("step"), col("c_id"),
            col("score"), col("simq"))
        sel = (if (sel == null) pick else sel.unionByName(pick))
          .localCheckpoint()
      }
      sel.orderBy("q_id", "step")
    }),

    // SIM15: per-label centroid + MEDOID election — the cluster-
    // representative step every embedding-clustered pipeline runs
    // after D16/MM9 (ship ONE real vector per cluster, not the
    // synthetic mean): centroid = per-dimension mean QUANTIZED at
    // 1e-6 as the operator's contract (decimal-pinned sums over the
    // posexploded frame → one render → round(·,6); a RAW mean would
    // re-run the W28 tie lottery — Spark renders the decimal sum
    // through BigDecimal.valueOf's shortest repr, DuckDB through the
    // true binary expansion, and at scale 12 over full-tail float
    // sums the 13th digit flips ~1e-3/row, measured live at sf0.01
    // before this quantization), medoid = the member minimizing
    // squared Euclidean distance to it, expanded as de − 2·dc + cc
    // over THREE dot-kernel folds (index-ordered, bit-identical to
    // DuckDB list_sum) — on the quantized centroid every downstream
    // double is bit-identical, so the (dist², vec_id) argmin and the
    // raw outputs hash-match. Scale: one (label, dim) hash agg + a
    // ≤|labels| broadcast of centroid arrays + one candidate scan —
    // no pair join anywhere.
    "sim15_centroid_medoid" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = quantizedCentroids(emb)
      val wL = Window.partitionBy("label")
        .orderBy(col("dist2"), col("vec_id"))
      emb.join(broadcast(cents), Seq("label"))
        .withColumn("dist2",
          dot(col("embedding"), col("embedding")) -
            lit(2.0) * dot(col("embedding"), col("cent")) +
            dot(col("cent"), col("cent")))
        .withColumn("rk", row_number().over(wL))
        .withColumn("n_members", count(lit(1)).over(
          Window.partitionBy("label")))
        .filter(col("rk") === 1)
        .select(col("label").cast("long").as("label"), col("n_members"),
          col("vec_id").as("medoid_id"), col("dist2"),
          dot(col("cent"), col("cent")).as("cnorm2"))
        .orderBy("label")
    }),

    // SIM16: inter-cluster centroid similarity grid — the
    // cluster-MERGE decision table every embedding-clustered corpus
    // pipeline consults after SIM15 elects representatives (labels
    // whose centroids sit at cosine ≈ 1 are one topic split by the
    // labeler; candidates for D16-style merging): pairwise cosine
    // AND squared Euclidean distance between every label pair's
    // QUANTIZED centroids (SIM15's 1e-6 contract — on quantized
    // inputs every dot/norm fold is index-ordered and bit-identical
    // to DuckDB's list_sum, so cosine/dist2 ship as RAW doubles).
    // Scale: the grid is |labels|² rows from a broadcast self-join
    // of a ≤|labels|-row frame — the corpus is touched once, by the
    // shared (label, dim) hash agg.
    "sim16_centroid_grid" -> ((s, d) =>
      centroidGrid(Tables.embeddings(s, d))),

    // SIM17: Davies–Bouldin terms per cluster (Davies & Bouldin
    // 1979) — the cluster-quality gauge that decides whether SIM16's
    // merge candidates SHOULD merge: for each label, scatter sᵢ =
    // mean member distance to the quantized centroid, worst ratio
    // Rᵢ = max_j (sᵢ+sⱼ)/dᵢⱼ over SIM16's centroid grid (the DB
    // index is the mean of these terms — folded in the spec, the
    // A95/D24 no-cross-group-float-sum convention). Determinism:
    // per-member dist² is the bit-identical index-ordered fold
    // (sim15's), sqrt is IEEE-exact, each distance renders at r6
    // before the decimal-pinned mean; dᵢⱼ likewise r6'd; the ratio
    // chain runs on identical rounded doubles, the argmax is decided
    // by (ratio DESC, label) ordering on those identical values.
    // Zero-distance centroid pairs (identical quantized centroids)
    // are excluded by exact comparison. Scale: one corpus scan for
    // scatters (broadcast centroids), then everything on ≤|labels|²
    // rows.
    "sim17_davies_bouldin" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = quantizedCentroids(emb)
      val scat = emb.join(broadcast(cents), Seq("label"))
        .withColumn("dist2",
          dot(col("embedding"), col("embedding")) -
            lit(2.0) * dot(col("embedding"), col("cent")) +
            dot(col("cent"), col("cent")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"),
          (sum(r6(sqrt(col("dist2"))).cast("decimal(24,10)"))
            .cast("double") / count(lit(1))).as("sraw"))
        .select(col("label").cast("long").as("label"),
          col("n_members"), r6(col("sraw")).as("scatter"))
      val grid = centroidGrid(emb)
      val sym = grid.select(col("label_a").as("li"),
          col("label_b").as("lj"), col("dist2"))
        .unionAll(grid.select(col("label_b").as("li"),
          col("label_a").as("lj"), col("dist2")))
        .withColumn("dij", r6(sqrt(col("dist2"))))
        .filter(col("dij") > 0)
      val w = Window.partitionBy("li")
        .orderBy(col("rij").desc, col("lj"))
      sym
        .join(scat.select(col("label").as("li"), col("n_members"),
          col("scatter").as("si")), Seq("li"))
        .join(scat.select(col("label").as("lj"),
          col("scatter").as("sj")), Seq("lj"))
        .withColumn("rij", (col("si") + col("sj")) / col("dij"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("li").as("label"), col("n_members"),
          col("si").as("scatter"), col("lj").as("worst_other"),
          r6(col("rij")).as("db_term"))
        .orderBy("label")
    }),

    // SIM18: simplified silhouette — the PER-MEMBER verdict the
    // cluster-level SIM17 can't give (Rousseeuw 1987, centroid form:
    // a = distance to own centroid, b = distance to the NEAREST
    // other centroid, s = (b−a)/max(a,b) ∈ [−1,1]); a negative s
    // names a member sitting closer to a foreign centroid than its
    // own — the misfile list a curator re-routes before training,
    // and the per-label mean ranks cluster coherence on a scale SIM17's
    // unbounded ratio doesn't give. The full-pairwise silhouette is
    // O(n²) and adds nothing here; the centroid form is the standard
    // large-corpus substitute and keeps the plan ONE corpus scan
    // against ≤|labels| broadcast quantized centroids, a per-row
    // argmin, and one per-label hash agg. Determinism is SIM17's:
    // every distance r6'd off the 1e-6-quantized centroids, s one
    // IEEE chain on those pinned doubles, the mean decimal-pinned
    // over r6'd terms, the misfit count an exact comparison.
    "sim18_silhouette" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = quantizedCentroids(emb)
        .select(col("label").cast("long").as("cl"), col("cent"))
      val perVec = emb
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding"))
        .crossJoin(broadcast(cents))
        .withColumn("dist", r6(sqrt(
          dot(col("embedding"), col("embedding")) -
            lit(2.0) * dot(col("embedding"), col("cent")) +
            dot(col("cent"), col("cent")))))
        .groupBy(col("vec_id"), col("label"))
        .agg(min(when(col("label") === col("cl"), col("dist"))).as("a"),
          min(when(col("label") =!= col("cl"), col("dist"))).as("b"))
        .withColumn("sil",
          when(greatest(col("a"), col("b")) > 0,
            (col("b") - col("a")) / greatest(col("a"), col("b")))
            .otherwise(lit(0.0)))
      perVec.groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"),
          r6(sum(r6(col("sil")).cast("decimal(24,10)")).cast("double") /
            count(lit(1))).as("mean_sil"),
          sum(when(col("sil") < 0, 1L).otherwise(0L)).as("n_misfit"))
        .orderBy("label")
    }),

    // SIM19: per-label centroid drift between two corpus halves —
    // the embedding-drift monitor every retrieval/classification
    // stack runs between index snapshots ("did this label's region
    // MOVE since the last embed run?"): split by vec_id parity (the
    // deterministic stand-in for two ingest snapshots), compute each
    // half's quantized centroid under the SIM15 1e-6 contract, and
    // report the Euclidean displacement per label plus both member
    // counts. A displacement far above the half-sampling noise floor
    // flags re-embedding or upstream distribution change; A115 gives
    // the same verdict for scalar columns, this is the vector-column
    // twin. Two (label, dim) hash aggs + a ≤|labels| join — one
    // corpus pass per half, everything downstream on tiny frames;
    // distances r6'd off quantized centroids (bit-identical), fully
    // hash-checked.
    "sim19_centroid_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      def half(even: Boolean) =
        emb.filter((col("vec_id") % 2 === 0) === even)
      def stats(even: Boolean, n: String) =
        half(even).groupBy(col("label").cast("long").as("label"))
          .agg(count(lit(1)).as(n))
      val ca = quantizedCentroids(half(true))
        .select(col("label").cast("long").as("label"),
          col("cent").as("cent_a"))
      val cb = quantizedCentroids(half(false))
        .select(col("label").cast("long").as("label"),
          col("cent").as("cent_b"))
      ca.join(cb, Seq("label"))
        .join(stats(true, "n_even"), Seq("label"))
        .join(stats(false, "n_odd"), Seq("label"))
        .select(col("label"), col("n_even"), col("n_odd"),
          r6(sqrt(
            dot(col("cent_a"), col("cent_a")) -
              lit(2.0) * dot(col("cent_a"), col("cent_b")) +
              dot(col("cent_b"), col("cent_b")))).as("drift"))
        .orderBy("label")
    }),

    // SIM9: FILTERED vector search — cosine top-5 restricted to
    // candidates sharing the query's label (the hybrid
    // metadata-predicate + ANN form every production retrieval stack
    // needs: "nearest neighbors within this language/domain/tenant").
    // The scale point: an EQUALITY filter turns the search from a
    // broadcast cross join over the whole corpus (SIM1's shape) into
    // a keyed join on the filter column — candidates shrink by the
    // label's selectivity BEFORE any distance math runs (10× here;
    // 1000× for a 1000-tenant corpus), and the plan stays a broadcast
    // hash join on (label), never a post-hoc filter over all-pairs
    // scores. Composes with every ANN index in the suite (SIM2/3/6
    // buckets simply gain the label as a leading key). Deterministic
    // ranking (score desc, id) → fully oracle-checked.
    "sim9_filtered_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label"),
          col("embedding").as("qe"))
        .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
      val c = emb
        .select(col("vec_id").as("c_id"), col("label"),
          col("embedding").as("ce"))
        .withColumn("cn", sqrt(dot(col("ce"), col("ce"))))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("c_id"))
      c.join(broadcast(q), Seq("label"))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cosine",
          dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("label"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    // SIM10: time-series SUBSEQUENCE similarity search — the
    // UCR-suite/MASS primitive (z-normalized Euclidean distance over
    // sliding windows) the quant reference's pattern-matching
    // questions reduce to: "which 8-day stretches of any series move
    // like this series' latest 8 days?" Z-normalization inside each
    // window makes the match shape-based (level and scale drop out —
    // the property that distinguishes subsequence search from plain
    // curve distance). Query = the most recent click window;
    // candidates = every window of every series (the query window
    // itself excluded); top-5 by distance with a full deterministic
    // tie order. Per-series day arrays are TIME-bounded (the a40/a54
    // scale argument), windows explode per series, every mean/σ/
    // distance folds in fixed index order over ≤8 elements — raw
    // IEEE doubles both engines reproduce bit-identically (the w24
    // no-rounding discipline) → fully oracle-checked. At corpus
    // scale the same plan fans out per series key; the broadcast is
    // one z-vector.
    "sim10_subseq_match" -> ((s, d) => {
      val W = 8
      val dly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg((sum(col("value").cast("decimal(24,10)")).cast("double") /
          count(lit(1))).as("px"))
      val wins = dly.groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("day"), col("px"))))
          .as("sp"))
        .select(col("event_type"),
          transform(col("sp"), x => x.getField("px")).as("v"))
        .select(col("event_type"), col("v"),
          explode(sequence(lit(0), size(col("v")) - W)).as("st"))
        .select(col("event_type"), col("st"),
          slice(col("v"), col("st") + 1, lit(W)).as("w"))
        .withColumn("mu",
          aggregate(col("w"), lit(0.0d), (a, x) => a + x) / W)
        .withColumn("sg", sqrt(aggregate(col("w"), lit(0.0d),
          (a, x) => a + (x - col("mu")) * (x - col("mu"))) / W))
        .filter(col("sg") > 0)
        .withColumn("z",
          transform(col("w"), x => (x - col("mu")) / col("sg")))
        .select(col("event_type"), col("st"), col("z"))
      val q = wins.filter(col("event_type") === "click")
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("st").desc)))
        .filter(col("rk") === 1)
        .select(col("z").as("qz"), col("event_type").as("q_type"),
          col("st").as("q_st"))
      wins.crossJoin(broadcast(q))
        .filter(!(col("event_type") === col("q_type") &&
                  col("st") === col("q_st")))
        .withColumn("dist", sqrt(aggregate(
          zip_with(col("z"), col("qz"), (a, b) => (a - b) * (a - b)),
          lit(0.0d), (a, x) => a + x)))
        .orderBy(col("dist"), col("event_type"), col("st"))
        .limit(5)
        .select(col("event_type"), col("st").cast("long").as("win_start"),
          col("dist"))
    }),

    // SIM2: banded-LSH ANN — top-k among candidates that share ANY of
    // the 6 band buckets with the query. Each side explodes ×6 on
    // (band, bkt); the union of band matches is deduped BEFORE the
    // cosine, so the expensive dot product runs once per candidate.
    // The bucket table is dumped and read back (Sim2BandDump) — the
    // oracle replays bucket join, dedup, cosine, and top-k from it,
    // flipping the query from rows-only to full hash in round 12
    // (recall vs brute force stays asserted in SimilaritySpec).
    "sim2_lsh_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
        .join(bandDump(s, d), Seq("vec_id"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("band"), col("bkt"))
      val c = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("ce"), col("nrm").as("cn"),
        col("band"), col("bkt"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("c_id"))
      c.join(broadcast(q), Seq("band", "bkt"))  // bucket-mates, any band
        .filter(col("q_id") =!= col("c_id"))
        .dropDuplicates("q_id", "c_id")         // union of band hits
        .withColumn("cosine",
          dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    // SIM3: IVF-style ANN — the other canonical scale path next to
    // banded LSH. The coarse quantizer (16 deterministically sampled
    // dataset vectors, collected once per (session, dir)) assigns
    // every vector to its nearest centroid's inverted list — the
    // memoized `ivfIndex` table, built once and shared across probes,
    // exactly as a real IVF engine separates index build from query.
    // Queries probe their nprobe=2 closest lists; candidates co-locate
    // by an equi-join on the list id — at 100 TB the lists
    // shuffle-partition the corpus and each query touches ~2/16 of it.
    // Fully hash-checked since round 12: the quantizer is
    // deterministic SQL (vec_id % 31 sample, limit 16), so the DuckDB
    // twin replays sampling, assignment argmax, probe ranking, and
    // top-k end to end with no dump (recall vs brute force stays
    // asserted in SimilaritySpec).
    "sim3_ivf_ann" -> ((s, d) => {
      val cents = centroids(s, d)
      // corpus side: the prebuilt inverted lists (nearest list only)
      val c = ivfIndex(s, d)
      // query side: top-nprobe lists, ranked against the same quantizer
      val q = Tables.embeddings(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
        .withColumn("probe", explode(slice(
          reverse(array_sort(centCos(cents)(col("embedding"), col("nrm")))),
          1, 2)))
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("probe.cid").as("lst"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("c_id"))
      c.join(broadcast(q), Seq("lst"))
        .filter(col("q_id") =!= col("c_id"))
        .dropDuplicates("q_id", "c_id")       // union of the 2 probes
        .withColumn("cosine",
          dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    // SIM5a: the JL projection itself, one row per (vector, projected
    // dimension). Deterministic float math against literal planes →
    // raw doubles hash-match the generated DuckDB oracle exactly.
    "sim5_jl_project" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), jlProject(col("embedding")).as("p"))
        .select(col("vec_id"), posexplode(col("p")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").as("pv"))
        .orderBy("vec_id", "pos")),

    // SIM5b: project → shortlist → EXACT re-rank, the production JL
    // shape (a raw 16-d top-5 reshuffles the weakly separated
    // neighbors too much — measured recall 0.16 — so the projection
    // serves as the cheap COARSE stage, like every banded path here
    // verifies before deciding): the 16-mult projected cosine scans
    // the corpus and keeps a top-100 shortlist per query, then the
    // full 64-d cosine re-ranks only those 100 — 4× less arithmetic on
    // the corpus-sized stage, exact math on the bounded one. Both
    // stages are deterministic on both engines → fully oracle-checked;
    // the recall the shortlist actually achieves vs SIM1 is pinned in
    // SimilaritySpec.
    "sim5_jl_topk" -> ((s, d) => {
      val proj = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          jlProject(col("embedding")).as("p"))
        .withColumn("pn", sqrt(dot(col("p"), col("p"))))
      val q = proj.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("p").as("qp"), col("pn").as("qpn"))
        .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
      val wp = Window.partitionBy("q_id")
        .orderBy(col("pcos").desc, col("c_id"))
      val shortlist = proj
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
          col("p").as("cp"), col("pn").as("cpn"))
        .crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("pcos",
          dot(col("qp"), col("cp")) / (col("qpn") * col("cpn")))
        .withColumn("prank", row_number().over(wp))
        .filter(col("prank") <= 100)
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("c_id"))
      shortlist
        .withColumn("cn", sqrt(dot(col("ce"), col("ce"))))
        .withColumn("cosine",
          dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    // SIM8: Matryoshka-prefix shortlist → exact re-rank (Kusupati et
    // al. 2022, "Matryoshka Representation Learning"): MRL-trained
    // embeddings concentrate signal in the leading dimensions, so the
    // FIRST 16 of 64 dims serve as the cheap coarse stage — the same
    // shortlist-then-verify shape as SIM5, but with NO projection
    // arithmetic at all (truncation is free, and at 100 TB the coarse
    // scan reads a quarter of the vector bytes — column-pruned to the
    // prefix if vectors are stored dimension-sliced). Both stages
    // deterministic on both engines → fully oracle-checked; shortlist
    // recall vs SIM1 pinned in SimilaritySpec (synthetic embeddings
    // are NOT MRL-trained, so the pinned recall documents the
    // truncation penalty the re-rank stage absorbs).
    "sim8_mrl_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          slice(col("embedding"), 1, MrlDims).as("m"))
        .withColumn("mn", sqrt(dot(col("m"), col("m"))))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("m").as("qm"), col("mn").as("qmn"))
        .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
      val wp = Window.partitionBy("q_id")
        .orderBy(col("mcos").desc, col("c_id"))
      val shortlist = emb
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
          col("m").as("cm"), col("mn").as("cmn"))
        .crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("mcos",
          dot(col("qm"), col("cm")) / (col("qmn") * col("cmn")))
        .withColumn("mrank", row_number().over(wp))
        .filter(col("mrank") <= 100)
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("c_id"))
      shortlist
        .withColumn("cn", sqrt(dot(col("ce"), col("ce"))))
        .withColumn("cosine",
          dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    // SIM6a: the PQ encoding — every vector's 8 sub-codes plus the
    // reconstructed norm. Deterministic codebook + bit-identical
    // distance arithmetic on both engines → fully oracle-checked,
    // including the raw IEEE xhat_n (no rounding needed: products,
    // index-order sums and sqrt are all correctly-rounded ops on
    // identical inputs).
    "sim6_pq_codes" -> ((s, d) =>
      pqEncoded(s, d)
        .select(col("vec_id") +:
          (1 to PqM).map(j => col(s"code_$j")) :+ col("xhat_n"): _*)
        .orderBy("vec_id")),

    // SIM6b: ADC shortlist → exact re-rank, the production PQ probe
    // shape (raw ADC top-5 reshuffles neighbors too much with a
    // training-free codebook — measured recall 0.12; the coarse stage
    // SHORTLISTS, exact math decides, like every banded path here).
    // Each query builds 16 LUTs of 16 partial dots (256 mults, once
    // per query), then every corpus row scores with 16 table LOOKUPS
    // + 15 adds (the arithmetic collapse that makes PQ scan rates
    // memory-bound; exact dot = 64 mults/row): approx cosine =
    // Σⱼ LUT[codeⱼ] / (‖q‖·‖x̂‖) keeps a top-100 shortlist, and the
    // full 64-d cosine re-ranks only those. Queries broadcast; the
    // corpus-side ADC scan touches only codes. Both stages
    // deterministic on both engines → fully oracle-checked; shortlist
    // recall vs the exact SIM1 top-5 pinned in SimilaritySpec.
    "sim6_pq_topk" -> ((s, d) => {
      val book = pqBook(s, d)
      val codes = pqEncoded(s, d)
      // one kernel call builds the query's flat 256-entry LUT
      // (index j·k + c); the per-row ADC score is then 16 lookups
      val q = Tables.embeddings(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
        .withColumn("lut", graft.functions.PqCodec.luts(book)(col("qe")))
      val wp = Window.partitionBy("q_id")
        .orderBy(col("pq_cos").desc, col("c_id"))
      val shortlist = codes.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("adot", (1 to PqM).map(j =>
          element_at(col("lut"),
            (lit((j - 1) * PqK) + col(s"code_$j")).cast("int")))
          .reduce(_ + _))
        .withColumn("pq_cos", col("adot") / (col("qn") * col("xhat_n")))
        .withColumn("c_id", col("vec_id"))
        .withColumn("prank", row_number().over(wp))
        .filter(col("prank") <= 100)
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("c_id"))
      shortlist
        .withColumn("cn", sqrt(dot(col("embedding"), col("embedding"))))
        .withColumn("cosine",
          dot(col("qe"), col("embedding")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    // SIM22: IVF-PQ — the production billion-scale composition of
    // SIM3's routing and SIM6's scan (FAISS's IndexIVFPQ, the
    // default shape of real vector-search deployments): the coarse
    // quantizer routes each query to its nprobe=2 inverted lists,
    // the PQ codes of ONLY those lists score by 16 LUT lookups per
    // row (no float vector is touched on the corpus-sized stage),
    // the ADC top-100 shortlist re-ranks with the exact 64-d cosine.
    // At 100 TB: the corpus shuffles once into lists at index-build
    // time (the shared memoized ivfIndex), each probe reads ~2/16 of
    // the CODES (16 bytes/vector, not 256), and exact math runs only
    // on the bounded shortlist. Fully hash-checked: routing,
    // codebook, ADC and re-rank are all deterministic SQL on both
    // engines; recall vs the exact SIM1 top-5 pinned in
    // SimilaritySpec.
    "sim22_ivfpq_topk" -> ((s, d) => {
      val cents = centroids(s, d)
      val book = pqBook(s, d)
      val inv = ivfIndex(s, d).select(col("c_id"), col("lst"))
      val codes = pqEncoded(s, d).withColumnRenamed("vec_id", "c_id")
      val q = Tables.embeddings(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
        .withColumn("lut", graft.functions.PqCodec.luts(book)(col("embedding")))
        .withColumn("probe", explode(slice(
          reverse(array_sort(centCos(cents)(col("embedding"), col("nrm")))),
          1, 2)))
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("lut"), col("probe.cid").as("lst"))
      val wp = Window.partitionBy("q_id")
        .orderBy(col("pq_cos").desc, col("c_id"))
      val shortlist = inv.join(broadcast(q), Seq("lst"))
        .filter(col("q_id") =!= col("c_id"))
        .dropDuplicates("q_id", "c_id")       // union of the 2 probes
        .join(codes, Seq("c_id"))
        .withColumn("adot", (1 to PqM).map(j =>
          element_at(col("lut"),
            (lit((j - 1) * PqK) + col(s"code_$j")).cast("int")))
          .reduce(_ + _))
        .withColumn("pq_cos", col("adot") / (col("qn") * col("xhat_n")))
        .withColumn("prank", row_number().over(wp))
        .filter(col("prank") <= 100)
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("c_id"))
      shortlist
        .withColumn("cn", sqrt(dot(col("embedding"), col("embedding"))))
        .withColumn("cosine",
          dot(col("qe"), col("embedding")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    // SIM4a: the int8 quantization itself, one row per (vector,
    // dimension) — codebook-free symmetric SQ8. Exact integer
    // arithmetic end to end (round half-away-from-zero on both
    // engines), so the oracle hash-matches including the raw IEEE
    // scale. One stateless map over the corpus: no shuffle at all
    // until the output sort.
    "sim4_quantize_int8" -> ((s, d) =>
      quantized(Tables.embeddings(s, d))
        .select(col("vec_id"), col("scale"), posexplode(col("q")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").cast("int").as("q8"), col("scale"))
        .orderBy("vec_id", "pos")),

    // SIM4b: brute-force top-5 in the QUANTIZED space — cos_q =
    // qd/√(qa·qb): the per-vector scales cancel, so the ranking needs
    // only integer dots of the stored int8 codes (the memory-bound
    // first pass of an SQ8 ANN engine; a production system rescopes
    // the float cosine only over these survivors). Integer dots are
    // exact (see [[quantized]]) → fully oracle-checked, unlike the
    // float ANN paths (rows-only + recall specs). Recall vs the exact
    // SIM1 top-5 is asserted in SimilaritySpec.
    "sim4_quant_topk" -> ((s, d) => {
      val qz = quantized(Tables.embeddings(s, d))
        .withColumn("qq", dot(col("q"), col("q")))
      val q = qz.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("q").as("qe"),
          col("qq").as("qn"))
      val c = qz.select(col("vec_id").as("c_id"), col("q").as("ce"),
        col("qq").as("cn"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("c_id"))
      c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("cosine",
          dot(col("qe"), col("ce")) / sqrt(col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    // SIM21: binary (1-bit sign) quantization — the most aggressive
    // member of the quantization family (SQ8 4×, PQ 16×, this 32×:
    // a 64-dim float32 vector becomes 8 BYTES) and the first pass of
    // every modern binary-quantized vector index: Hamming distance on
    // sign codes approximates angle (it IS the hyperplane-LSH
    // estimator with the identity rotation — the D9/SIM2 family's
    // signature, kept whole instead of banded), and popcount(xor) is
    // the cheapest distance a CPU can evaluate. Codes are packed as
    // TWO 32-bit halves per vector: bit 63 of a single long flips the
    // sign in both engines' BIGINT (Spark wraps, DuckDB's `<<` class
    // errors), while 32-bit halves are exact integers everywhere —
    // so codes, XORs, popcounts and the ranking are all exact and
    // fully oracle-checked (the SIM4 integer-exactness argument).
    "sim21_binary_codes" -> ((s, d) =>
      binaryCodes(Tables.embeddings(s, d)).orderBy("vec_id")),

    // SIM21b: brute-force Hamming top-5 over the packed codes — the
    // memory-bound first pass of a binary-quantized engine (a
    // production system rescopes exact cosine over these survivors,
    // exactly SIM4b's pattern). 10-query demo via broadcast like
    // SIM1/SIM4b; integer distances + c_id tiebreak ⇒ deterministic ⇒
    // hash-checked. Recall vs the exact SIM1 top-5 is asserted in
    // SimilaritySpec.
    "sim21_hamming_topk" -> ((s, d) => {
      val codes = binaryCodes(Tables.embeddings(s, d))
      val q = codes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("h1").as("qh1"),
          col("h2").as("qh2"))
      val c = codes.select(col("vec_id").as("c_id"), col("h1"), col("h2"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("hamming").asc, col("c_id"))
      c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("hamming",
          (bit_count(col("qh1").bitwiseXOR(col("h1"))) +
            bit_count(col("qh2").bitwiseXOR(col("h2")))).cast("long"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"), col("hamming"))
        .orderBy("q_id", "rank")
    }),

    // SIM21c: the PRODUCTION shape — Hamming shortlist (top-64 codes)
    // → exact-cosine re-rank to top-5. Raw 64-bit sign codes are a
    // coarse filter (measured recall@5 0.16 at sf0.001 / 0.08 at
    // sf0.1 — near-random embeddings cluster at 90°, where the sign
    // estimator is noisiest), which is WHY every binary-quantized
    // engine oversamples and re-ranks: the shortlist×rerank lifts
    // recall to 0.86 / 0.52 while touching 64 full vectors per query
    // instead of the corpus. Exact integer shortlist + the SIM1
    // index-order cosine ⇒ deterministic ⇒ fully hash-checked.
    "sim21_rerank_topk" -> ((s, d) => {
      val Shortlist = 64
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      val codes = binaryCodes(Tables.embeddings(s, d))
      val q = codes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("h1").as("qh1"),
          col("h2").as("qh2"))
      val c = codes.select(col("vec_id").as("c_id"), col("h1"), col("h2"))
      val wH = Window.partitionBy("q_id")
        .orderBy(col("hamming").asc, col("c_id"))
      val short = c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("hamming",
          (bit_count(col("qh1").bitwiseXOR(col("h1"))) +
            bit_count(col("qh2").bitwiseXOR(col("h2")))).cast("long"))
        .withColumn("hrank", row_number().over(wH))
        .filter(col("hrank") <= Shortlist)
        .select(col("q_id"), col("c_id"), col("hamming"))
      val wC = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("c_id"))
      short
        .join(emb.select(col("vec_id").as("q_id"),
          col("embedding").as("qe"), col("nrm").as("qn")), Seq("q_id"))
        .join(emb.select(col("vec_id").as("c_id"),
          col("embedding").as("ce"), col("nrm").as("cn")), Seq("c_id"))
        .withColumn("cosine",
          dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(wC).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("c_id"),
          r6(col("cosine")).as("cosine"), col("hamming"))
        .orderBy("q_id", "rank")
    }),

    // SIM13: ANN recall evaluation AS A QUERY — the offline harness
    // every ANN deployment runs before shipping an index: per query
    // vector, how many of the exact top-5 does the approximate
    // (SQ8-quantized) ranking recover? Both rankings are themselves
    // oracle-checked queries (SIM1 exact, SIM4b quantized), their
    // deterministic tiebreaks make recall an INTEGER per q_id, and
    // the join is a tiny keyed (q_id, c_id) equi-join — so unlike
    // the spec-side recall assertions (sim2/sim3), this one is fully
    // hash-checked end to end. Scale shape: both inputs are top-k
    // frames (k·|Q| rows), the eval costs nothing beyond them.
    "sim13_recall_eval" -> ((s, d) => {
      val exact = queries("sim1_cosine_topk")(s, d)
        .select(col("q_id"), col("c_id"))
      val quant = queries("sim4_quant_topk")(s, d)
        .select(col("q_id"), col("c_id"))
      val matches = exact.join(quant, Seq("q_id", "c_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_match"))
      exact.select("q_id").distinct()
        .join(matches, Seq("q_id"), "left")
        .na.fill(0L, Seq("n_match"))
        .select(col("q_id"), col("n_match"),
          (col("n_match").cast("double") / 5).as("recall_at_5"))
        .orderBy("q_id")
    }),

    // SIM20: recall@k CURVE for the banded-LSH ANN — SIM13's recall
    // evaluation generalized from one scalar to the curve an ANN
    // deployment actually tunes against (recall@1 is "did the top
    // answer survive banding", recall@5 the working-set quality;
    // the gap between them is the re-rank headroom). hits@k =
    // |exact top-k ∩ LSH top-k| per query for k ∈ {1, 3, 5}, from
    // ONE (q, c) rank join exploded over the three cutoffs — counts
    // are exact integers, recall one division each. Fully
    // hash-checked: both rankings replay in SQL (sim1's exact chain;
    // sim2's from the bucket dump).
    "sim20_recall_curve" -> ((s, d) => {
      val exact = queries("sim1_cosine_topk")(s, d)
        .select(col("q_id"), col("rank"), col("c_id"))
      val lsh = queries("sim2_lsh_ann")(s, d)
        .select(col("q_id"), col("rank").as("lrank"), col("c_id"))
      val ks = array(lit(1L), lit(3L), lit(5L))
      val hits = exact.join(lsh, Seq("q_id", "c_id"))
        .withColumn("k", explode(ks))
        .filter(col("rank") <= col("k") && col("lrank") <= col("k"))
        .groupBy("q_id", "k").agg(count(lit(1)).as("hits"))
      exact.select("q_id").distinct()
        .withColumn("k", explode(ks))
        .join(hits, Seq("q_id", "k"), "left")
        .na.fill(0L, Seq("hits"))
        .select(col("q_id"), col("k"), col("hits"),
          (col("hits").cast("double") / col("k")).as("recall_at_k"))
        .orderBy("q_id", "k")
    }),

    // D9: LSH-banded embedding near-dup PAIRS — the scale path D5's
    // bounded all-pairs baseline exists to ground-truth. Every vector
    // lands in 6 (band, bucket) cells; candidate pairs are bucket-mates
    // in ANY band (union + dedup), then the exact cosine verifies
    // ≥ τ=0.35 — the same band-prune-then-verify shape as D6/D8/MM5,
    // here over hyperplane sign bits. Analytic recall at cosine 0.35:
    // per-bit agreement p = 1−θ/π ≈ 0.61 → 1−(1−p³)⁶ ≈ 0.78; measured
    // against the oracle-checked D5 slice in SimilaritySpec; precision
    // is exact by construction (the verify stage recomputes the true
    // cosine). Writes the Sim2BandDump bucket table (the same banded()
    // projection the memoized pair build uses) so the DuckDB twin can
    // replay bucket join → cosine verify ≥ τ → distinct — flipped
    // from rows-only in round 12; SimilaritySpec's recall/precision
    // anchors vs the d5 exact baseline stay.
    "d9_embedding_neardup_lsh" -> ((s, d) => {
      bandDump(s, d) // written for the oracle; the plan reads embPairs
      embPairs(s, d).orderBy("va", "vb")
    }),

    // D16: embedding near-dup CLUSTER resolution — the missing last
    // stage for the embedding modality, completing the
    // pairs-are-not-clusters story across all three: text (D2/D6 →
    // D10), images (MM5 → MM9), and now vectors (D9 → D16). The
    // materialized banded-LSH verified pair graph resolves to
    // canonical groups via the shared property-tested
    // connected-components kernel (min-id election), every embedding
    // a vertex. THRESHOLD MATTERS here: D9's τ = 0.35 is a RETRIEVAL
    // similarity cut, and transitive closure at retrieval similarity
    // over-merges catastrophically — measured on this corpus: one
    // 1,964-vector blob (diameter 12) swallows 40% of sf0.1 at 0.35,
    // where the duplicate-grade cut below yields 121 tight families
    // of ≤ 4 (diameter ≤ 3, so the CC loop also converges in ≤ 4
    // rounds instead of ~13). Same filter-on-materialized-edges as a
    // production pipeline: one pair search serves retrieval AND
    // dedup. HASH-CHECKED since round 11 via the materialized-
    // intermediate pattern: the hyperplane literals have no SQL twin
    // and the banding is honestly probabilistic (an exhaustive
    // exact-cosine oracle was tried and correctly DIVERGED — the 6×3
    // bands miss 2 of the 7 dup-grade pairs at sf0.001, the expected
    // ~15%-per-pair miss rate at cosine 0.45), so the query persists
    // its threshold-filtered edge table (exactly what a production
    // pipeline does with its one pair search) and the DuckDB twin
    // replays the TRANSITIVE CLOSURE over that artifact recursively.
    // The hash match certifies the iterative CC kernel bit-exactly;
    // the edges' cosines stay D5-anchored and the banding recall
    // stays D9's documented property (SimilaritySpec anchors both,
    // plus the sequential union-find third leg).
    "d16_emb_clusters" -> ((s, d) => {
      // read the dump back so the CC consumes byte-for-byte the same
      // edge artifact the oracle closes over
      val edges = Dumps.writeOnce(s, D16EdgeDump(d)) {
        embPairs(s, d).filter(col("cosine") >= EmbDupTau)
          .select(col("va").as("da"), col("vb").as("db"))
      }
      val verts = Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id"))
      Dedup.connectedComponents(edges, verts,
        atScale = graft.ScaleGuard.atScale(s, d, "embeddings"))
        .select(col("doc_id").as("vec_id"), col("comp").as("canonical_id"))
        .orderBy("vec_id")
    }),

    // D5: embedding-cosine near-duplicate pairs (vec_id < 200, τ=0.35).
    "d5_embedding_neardup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("nrm").as("na"))
      val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"),
        col("nrm").as("nb"))
      a.crossJoin(b)
        .filter(col("va") < col("vb"))
        .withColumn("cosine",
          dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cosine") >= 0.35)
        .select(col("va"), col("vb"), r6(col("cosine")).as("cosine"))
        .orderBy("va", "vb")
    })
  )

  /** The SQ8 quantization as a DuckDB CTE ending in
    * `s(vec_id, embedding, scale)` — interpolated into BOTH sim4
    * oracles so the top-k can never rank a different quantization
    * than the one the quantize oracle defines. */
  private val sq8Cte =
    """WITH v AS (
         SELECT vec_id, embedding,
                list_max(list_transform(embedding, x -> abs(x))) AS mx
         FROM embeddings),
       s AS (
         SELECT vec_id, embedding, CAST(127 AS DOUBLE) / mx AS scale
         FROM v WHERE mx > 0)"""

  /** Shared CTE block for the SIM6 oracles: the identical codebook
    * (same sampled rows, same subspace slicing), per-(vector, subspace)
    * code assignment with the same first-min tiebreak, and the
    * reconstructed-norm table. All sums run in index order
    * (`list_sum`), matching the Spark side's left-associated chains —
    * distances are bit-identical, so code choices are too. */
  private def pqOracleCtes: String =
    s"""WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) AS c, e
           FROM (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                 FROM embeddings WHERE vec_id % 31 = 0
                 ORDER BY vec_id LIMIT ${PqK})),
         cn2 AS (
           SELECT j.j, c.c,
                  list_sum(list_transform(generate_series(1, ${PqD}),
                    i -> c.e[(j.j-1)*${PqD} + i] * c.e[(j.j-1)*${PqD} + i]))
                    AS n2
           FROM generate_series(1, ${PqM}) AS j(j) CROSS JOIN cents c),
         xx AS (
           SELECT v.vec_id, j.j,
                  list_sum(list_transform(generate_series(1, ${PqD}),
                    i -> v.e[(j.j-1)*${PqD} + i] * v.e[(j.j-1)*${PqD} + i]))
                    AS xx
           FROM v CROSS JOIN generate_series(1, ${PqM}) AS j(j)),
         dist AS (
           SELECT xx.vec_id, xx.j, c.c,
                  (xx.xx - 2.0 * list_sum(list_transform(
                     generate_series(1, ${PqD}),
                     i -> v.e[(xx.j-1)*${PqD} + i] * c.e[(xx.j-1)*${PqD} + i])))
                    + cn2.n2 AS d2
           FROM xx JOIN v ON xx.vec_id = v.vec_id
           CROSS JOIN cents c
           JOIN cn2 ON cn2.j = xx.j AND cn2.c = c.c),
         enc AS (
           SELECT vec_id, j, CAST(c AS BIGINT) AS code
           FROM (SELECT vec_id, j, c,
                        row_number() OVER (PARTITION BY vec_id, j
                                           ORDER BY d2, c) AS rn
                 FROM dist)
           WHERE rn = 1),
         xh AS (
           SELECT enc.vec_id, list_sum(list(cn2.n2 ORDER BY enc.j)) AS xn2
           FROM enc JOIN cn2 ON enc.j = cn2.j AND enc.code = cn2.c
           GROUP BY enc.vec_id)"""

  val oracles: Map[String, String] = Map(
    // D9: bucket-mate candidates from the dumped band table, then the
    // exact index-order cosine with the τ = 0.35 verify — the whole
    // banded-LSH verified pair search replayed from the dump
    "d9_embedding_neardup_lsh" ->
      s"""WITH bands AS (
           SELECT vec_id, band, bkt FROM '${Dumps.oraclePath("sim2_bands")}/*.parquet'),
         v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         cand AS (
           SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkt = b.bkt
           WHERE a.vec_id < b.vec_id),
         pairs AS (
           SELECT cand.va, cand.vb,
                  list_sum(list_transform(generate_series(1, len(qa.e)),
                    i -> qa.e[i] * qb.e[i])) / (qa.nrm * qb.nrm) AS cosine
           FROM cand
           JOIN n qa ON qa.vec_id = cand.va
           JOIN n qb ON qb.vec_id = cand.vb)
         SELECT va, vb, round(cosine, 6) AS cosine
         FROM pairs WHERE cosine >= CAST(0.35 AS DOUBLE)
         ORDER BY va, vb""",
    // SIM20: the sim1 exact ranking + the sim2 dump ranking, then the
    // exploded per-k intersection counts
    "sim20_recall_curve" ->
      s"""WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         ep AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                  list_sum(list_transform(generate_series(1, len(q.e)),
                    i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
           FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         exact AS (
           SELECT q_id, c_id, rank FROM (
             SELECT q_id, c_id,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY cosine DESC, c_id) AS rank
             FROM ep) WHERE rank <= 5),
         bands AS (
           SELECT vec_id, band, bkt FROM '${Dumps.oraclePath("sim2_bands")}/*.parquet'),
         lcand AS (
           SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
           FROM bands q JOIN bands c
             ON q.band = c.band AND q.bkt = c.bkt
           WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         lp AS (
           SELECT lcand.q_id, lcand.c_id,
                  list_sum(list_transform(generate_series(1, len(qe.e)),
                    i -> qe.e[i] * ce.e[i])) / (qe.nrm * ce.nrm) AS cosine
           FROM lcand
           JOIN n qe ON qe.vec_id = lcand.q_id
           JOIN n ce ON ce.vec_id = lcand.c_id),
         lsh AS (
           SELECT q_id, c_id, lrank FROM (
             SELECT q_id, c_id,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY cosine DESC, c_id) AS lrank
             FROM lp) WHERE lrank <= 5),
         ks AS (SELECT unnest([1, 3, 5]) AS k),
         hits AS (
           SELECT e.q_id, ks.k, count(*) AS hits
           FROM exact e
           JOIN lsh l ON e.q_id = l.q_id AND e.c_id = l.c_id
           CROSS JOIN ks
           WHERE e.rank <= ks.k AND l.lrank <= ks.k
           GROUP BY 1, 2)
         SELECT q.q_id, CAST(ks.k AS BIGINT) AS k,
                CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
                CAST(coalesce(h.hits, 0) AS DOUBLE) / ks.k AS recall_at_k
         FROM (SELECT DISTINCT q_id FROM exact) q
         CROSS JOIN ks
         LEFT JOIN hits h ON h.q_id = q.q_id AND h.k = ks.k
         ORDER BY q.q_id, k""",
    // SIM2: candidates from the dumped bucket table, then the exact
    // sim1 cosine/rank machinery over the candidate pairs
    "sim2_lsh_ann" ->
      s"""WITH bands AS (
           SELECT vec_id, band, bkt FROM '${Dumps.oraclePath("sim2_bands")}/*.parquet'),
         v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         cand AS (
           SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
           FROM bands q JOIN bands c
             ON q.band = c.band AND q.bkt = c.bkt
           WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         pairs AS (
           SELECT cand.q_id, cand.c_id,
                  list_sum(list_transform(generate_series(1, len(qe.e)),
                    i -> qe.e[i] * ce.e[i])) / (qe.nrm * ce.nrm) AS cosine
           FROM cand
           JOIN n qe ON qe.vec_id = cand.q_id
           JOIN n ce ON ce.vec_id = cand.c_id)
         SELECT q_id, rank, c_id, round(cosine, 6) AS cosine FROM (
           SELECT q_id, c_id, cosine,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cosine DESC, c_id) AS rank
           FROM pairs) WHERE rank <= 5
         ORDER BY q_id, rank""",
    // SIM3: the full IVF pipeline in SQL — the deterministic
    // quantizer sample (vec_id % 31, first 16), per-vector centroid
    // cosines, nearest-list assignment and nprobe=2 probe ranking
    // both with Spark's struct-max tiebreak (cos DESC, cid DESC),
    // then the sim1 cosine/rank machinery over the list-mates
    "sim3_ivf_ann" ->
      """WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         cents AS (
           SELECT vec_id AS cid, e, nrm FROM n
           WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT 16),
         cc AS (
           SELECT n.vec_id, c.cid,
                  list_sum(list_transform(generate_series(1, len(n.e)),
                    i -> n.e[i] * c.e[i])) / (n.nrm * c.nrm) AS cos
           FROM n, cents c),
         asg AS (
           SELECT vec_id AS c_id, lst FROM (
             SELECT vec_id, cid AS lst,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cid DESC) AS rk
             FROM cc) WHERE rk = 1),
         probes AS (
           SELECT vec_id AS q_id, lst FROM (
             SELECT vec_id, cid AS lst,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cid DESC) AS rk
             FROM cc WHERE vec_id < 10) WHERE rk <= 2),
         cand AS (
           SELECT DISTINCT p.q_id, a.c_id
           FROM probes p JOIN asg a ON a.lst = p.lst
           WHERE a.c_id <> p.q_id),
         pairs AS (
           SELECT cand.q_id, cand.c_id,
                  list_sum(list_transform(generate_series(1, len(qe.e)),
                    i -> qe.e[i] * ce.e[i])) / (qe.nrm * ce.nrm) AS cosine
           FROM cand
           JOIN n qe ON qe.vec_id = cand.q_id
           JOIN n ce ON ce.vec_id = cand.c_id)
         SELECT q_id, rank, c_id, round(cosine, 6) AS cosine FROM (
           SELECT q_id, c_id, cosine,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cosine DESC, c_id) AS rank
           FROM pairs) WHERE rank <= 5
         ORDER BY q_id, rank""",
    // SIM13: both ranking CTE chains are verbatim the sim1/sim4
    // oracles (renamed CTEs), then the same integer overlap count
    "sim13_recall_eval" ->
      s"""$sq8Cte,
         qz AS (
           SELECT vec_id,
                  list_transform(embedding, x -> round(x * scale)) AS q
           FROM s),
         nq AS (
           SELECT vec_id, q,
                  list_sum(list_transform(q, x -> x * x)) AS qq
           FROM qz),
         qpairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                  list_sum(list_transform(generate_series(1, len(q.q)),
                    i -> q.q[i] * c.q[i])) / sqrt(q.qq * c.qq) AS cosine
           FROM nq q JOIN nq c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         qtop AS (
           SELECT q_id, c_id FROM (
             SELECT q_id, c_id,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY cosine DESC, c_id) AS rank
             FROM qpairs) WHERE rank <= 5),
         ve AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         ne AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM ve),
         epairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                  list_sum(list_transform(generate_series(1, len(q.e)),
                    i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
           FROM ne q JOIN ne c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         etop AS (
           SELECT q_id, c_id FROM (
             SELECT q_id, c_id,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY cosine DESC, c_id) AS rank
             FROM epairs) WHERE rank <= 5),
         m AS (
           SELECT e.q_id, count(*) AS n
           FROM etop e JOIN qtop q
             ON e.q_id = q.q_id AND e.c_id = q.c_id
           GROUP BY 1)
         SELECT qq.q_id, CAST(COALESCE(m.n, 0) AS BIGINT) AS n_match,
                CAST(COALESCE(m.n, 0) AS DOUBLE) / 5 AS recall_at_5
         FROM (SELECT DISTINCT q_id FROM etop) qq
         LEFT JOIN m USING (q_id)
         ORDER BY q_id""",
    // D16: recursive min-propagation closure over the engine's
    // MATERIALIZED dup-grade edge artifact (see the query scaladoc —
    // an exhaustive oracle is impossible here because hyperplane
    // banding is honestly probabilistic, so the oracle's job is the
    // closure, not the candidate recall). The dump is re-read by the
    // engine's own CC too, so both sides close the identical edges.
    "d16_emb_clusters" ->
      s"""WITH RECURSIVE
           prs AS (
             SELECT da, db FROM '${Dumps.oraclePath("d16_edges")}/*.parquet'),
           edges AS (SELECT da AS src, db AS dst FROM prs
                     UNION SELECT db AS src, da AS dst FROM prs),
           reach AS (
             SELECT vec_id AS id, vec_id AS r FROM embeddings
             UNION
             SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
         SELECT id AS vec_id, min(r) AS canonical_id FROM reach
         GROUP BY id ORDER BY vec_id""",
    // identical float→double casts, decimal-pinned moments, exact
    // min/max (unnest zips with generate_subscripts for the dim)
    "sim11_feature_stats" ->
      """WITH e AS (
           SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
                    AS dim,
                  CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
         g AS (
           SELECT dim, count(*) AS n,
                  CAST(CAST(sum(CAST(x AS DECIMAL(30,12))) AS VARCHAR)
                       AS DOUBLE) AS s1,
                  CAST(CAST(sum(CAST(x * x AS DECIMAL(30,12)))
                       AS VARCHAR) AS DOUBLE) AS s2,
                  min(x) AS xmin, max(x) AS xmax
           FROM e GROUP BY 1)
         SELECT dim, CAST(n AS BIGINT) AS n,
                round(s1 / n, 6) AS mean,
                round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS std,
                xmin, xmax
         FROM g ORDER BY dim""",
    "sim6_pq_codes" ->
      s"""$pqOracleCtes,
         codes AS (
           SELECT vec_id,
                  ${(1 to PqM).map(j =>
                      s"max(CASE WHEN j = $j THEN code END) AS code_$j")
                    .mkString(",\n                  ")}
           FROM enc GROUP BY vec_id)
         SELECT codes.vec_id,
                ${(1 to PqM).map(j => s"code_$j").mkString(", ")},
                sqrt(xh.xn2) AS xhat_n
         FROM codes JOIN xh USING (vec_id)
         ORDER BY vec_id""",
    "sim6_pq_topk" ->
      s"""$pqOracleCtes,
         q AS (
           SELECT vec_id AS q_id, e AS qe,
                  sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> e[i] * e[i]))) AS qn
           FROM v WHERE vec_id < 10),
         lut AS (
           SELECT q.q_id, j.j, c.c,
                  list_sum(list_transform(generate_series(1, ${PqD}),
                    i -> q.qe[(j.j-1)*${PqD} + i] * c.e[(j.j-1)*${PqD} + i]))
                    AS pd
           FROM q
           CROSS JOIN generate_series(1, ${PqM}) AS j(j)
           CROSS JOIN cents c),
         sc AS (
           SELECT l.q_id, enc.vec_id AS c_id,
                  list_sum(list(l.pd ORDER BY enc.j)) AS adot
           FROM enc JOIN lut l ON enc.j = l.j AND enc.code = l.c
           GROUP BY 1, 2),
         shortlist AS (
           SELECT q_id, c_id FROM (
             SELECT s.q_id, s.c_id,
                    row_number() OVER (PARTITION BY s.q_id
                      ORDER BY s.adot / (q.qn * sqrt(xh.xn2)) DESC, s.c_id)
                      AS prank
             FROM sc s JOIN q USING (q_id) JOIN xh ON s.c_id = xh.vec_id
             WHERE s.q_id <> s.c_id)
           WHERE prank <= 100),
         exact AS (
           SELECT sl.q_id, sl.c_id,
                  list_sum(list_transform(generate_series(1, 64),
                    i -> q.qe[i] * v.e[i])) /
                  (q.qn * sqrt(list_sum(list_transform(
                     generate_series(1, 64), i -> v.e[i] * v.e[i]))))
                    AS cosine
           FROM shortlist sl JOIN q USING (q_id)
           JOIN v ON v.vec_id = sl.c_id)
         SELECT q_id, rank, c_id, round(cosine, 6) AS cosine
         FROM (SELECT q_id, c_id, cosine,
                      CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
               FROM exact)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // SIM22: the sim3 routing CTEs (vec_id-keyed centroids,
    // assignment/probe argmax with the cid DESC tiebreak) composed
    // with the sim6 PQ CTEs (codebook, enc, LUT), the ADC scan
    // restricted to the probed lists' candidates
    "sim22_ivfpq_topk" ->
      s"""$pqOracleCtes,
         nn AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         icents AS (
           SELECT vec_id AS cid, e, nrm FROM nn
           WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT 16),
         cc AS (
           SELECT n.vec_id, c.cid,
                  list_sum(list_transform(generate_series(1, len(n.e)),
                    i -> n.e[i] * c.e[i])) / (n.nrm * c.nrm) AS cos
           FROM nn n, icents c),
         asg AS (
           SELECT vec_id AS c_id, lst FROM (
             SELECT vec_id, cid AS lst,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cid DESC) AS rk
             FROM cc) WHERE rk = 1),
         probes AS (
           SELECT vec_id AS q_id, lst FROM (
             SELECT vec_id, cid AS lst,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cid DESC) AS rk
             FROM cc WHERE vec_id < 10) WHERE rk <= 2),
         cand AS (
           SELECT DISTINCT p.q_id, a.c_id
           FROM probes p JOIN asg a ON a.lst = p.lst
           WHERE a.c_id <> p.q_id),
         q AS (
           SELECT vec_id AS q_id, e AS qe,
                  sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> e[i] * e[i]))) AS qn
           FROM v WHERE vec_id < 10),
         lut AS (
           SELECT q.q_id, j.j, c.c,
                  list_sum(list_transform(generate_series(1, ${PqD}),
                    i -> q.qe[(j.j-1)*${PqD} + i] * c.e[(j.j-1)*${PqD} + i]))
                    AS pd
           FROM q
           CROSS JOIN generate_series(1, ${PqM}) AS j(j)
           CROSS JOIN cents c),
         sc AS (
           SELECT l.q_id, enc.vec_id AS c_id,
                  list_sum(list(l.pd ORDER BY enc.j)) AS adot
           FROM enc JOIN lut l ON enc.j = l.j AND enc.code = l.c
           JOIN cand ON cand.q_id = l.q_id AND cand.c_id = enc.vec_id
           GROUP BY 1, 2),
         shortlist AS (
           SELECT q_id, c_id FROM (
             SELECT s.q_id, s.c_id,
                    row_number() OVER (PARTITION BY s.q_id
                      ORDER BY s.adot / (q.qn * sqrt(xh.xn2)) DESC, s.c_id)
                      AS prank
             FROM sc s JOIN q USING (q_id) JOIN xh ON s.c_id = xh.vec_id)
           WHERE prank <= 100),
         exact AS (
           SELECT sl.q_id, sl.c_id,
                  list_sum(list_transform(generate_series(1, 64),
                    i -> q.qe[i] * v.e[i])) /
                  (q.qn * sqrt(list_sum(list_transform(
                     generate_series(1, 64), i -> v.e[i] * v.e[i]))))
                    AS cosine
           FROM shortlist sl JOIN q USING (q_id)
           JOIN v ON v.vec_id = sl.c_id)
         SELECT q_id, rank, c_id, round(cosine, 6) AS cosine
         FROM (SELECT q_id, c_id, cosine,
                      CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
               FROM exact)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // SIM14: the identical index-ordered dot sims over the same
    // top-20 frame, then the FIVE greedy MMR steps unrolled as
    // chained CTEs over a seed empty selection u0 — penalty via a
    // correlated max over prs×uₖ₋₁, NOT EXISTS for the shrinking
    // remainder, the same (score DESC, c_id) tiebreak (the d11/d14
    // unrolling applied to a greedy selection)
    "sim14_mmr_topk" ->
      s"""WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         allc AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                  list_sum(list_transform(generate_series(1, len(q.e)),
                    i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS simq
           FROM n q JOIN n c ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
         c20 AS (
           SELECT q_id, c_id, simq FROM (
             SELECT q_id, c_id, simq,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY simq DESC, c_id) AS rk
             FROM allc) WHERE rk <= 20),
         prs AS (
           SELECT a.q_id, a.c_id AS ca, b.c_id AS cb,
                  list_sum(list_transform(generate_series(1, len(x.e)),
                    i -> x.e[i] * y.e[i])) / (x.nrm * y.nrm) AS simc
           FROM c20 a JOIN c20 b ON a.q_id = b.q_id AND a.c_id <> b.c_id
           JOIN n x ON x.vec_id = a.c_id
           JOIN n y ON y.vec_id = b.c_id),
         u0 AS (SELECT q_id, c_id FROM c20 WHERE 1 = 0),
         ${(1 to 5).map(k =>
           s"""p$k AS (
           SELECT c.q_id, c.c_id, c.simq,
                  CAST(0.7 AS DOUBLE) * c.simq - CAST(0.3 AS DOUBLE) *
                    coalesce((SELECT max(p.simc) FROM prs p
                              JOIN u${k - 1} u ON u.q_id = p.q_id
                                              AND u.c_id = p.cb
                              WHERE p.q_id = c.q_id AND p.ca = c.c_id),
                             CAST(0 AS DOUBLE)) AS score
           FROM c20 c
           WHERE NOT EXISTS (SELECT 1 FROM u${k - 1} u
                             WHERE u.q_id = c.q_id
                               AND u.c_id = c.c_id)),
         w$k AS (
           SELECT q_id, CAST($k AS BIGINT) AS step, c_id, score, simq
           FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY score DESC, c_id) AS rn FROM p$k)
           WHERE rn = 1),
         u$k AS (SELECT q_id, c_id FROM u${k - 1}
                 UNION ALL SELECT q_id, c_id FROM w$k)""")
          .mkString(",\n         ")}
         SELECT q_id, step, c_id, score, simq
         FROM (${(1 to 5).map(k => s"SELECT * FROM w$k")
           .mkString(" UNION ALL ")})
         ORDER BY q_id, step""",
    // SIM15: zipped unnest → pinned per-dim means (VARCHAR-hop
    // render), list(ORDER BY dim) centroids, the identical three
    // index-ordered folds and (dist2, vec_id) argmin
    "sim15_centroid_medoid" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         px AS (
           SELECT label, unnest(generate_series(1, len(e))) AS dim,
                  unnest(e) AS x
           FROM v),
         m AS (
           SELECT label, dim,
                  round(CAST(CAST(sum(CAST(x AS DECIMAL(30,12)))
                        AS VARCHAR) AS DOUBLE) / count(*), 6) AS mean
           FROM px GROUP BY 1, 2),
         c AS (SELECT label, list(mean ORDER BY dim) AS cent
               FROM m GROUP BY 1),
         sc AS (
           SELECT v.vec_id, v.label,
                  list_sum(list_transform(generate_series(1, len(v.e)),
                    i -> v.e[i] * v.e[i]))
                  - CAST(2 AS DOUBLE) *
                    list_sum(list_transform(generate_series(1, len(v.e)),
                      i -> v.e[i] * c.cent[i]))
                  + list_sum(list_transform(
                      generate_series(1, len(c.cent)),
                      i -> c.cent[i] * c.cent[i])) AS dist2,
                  list_sum(list_transform(generate_series(1, len(c.cent)),
                    i -> c.cent[i] * c.cent[i])) AS cnorm2,
                  count(*) OVER (PARTITION BY v.label) AS nm
           FROM v JOIN c USING (label)),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY label
                       ORDER BY dist2, vec_id) AS rk
           FROM sc)
         SELECT CAST(label AS BIGINT) AS label,
                CAST(nm AS BIGINT) AS n_members,
                vec_id AS medoid_id, dist2, cnorm2
         FROM r WHERE rk = 1 ORDER BY label""",
    // sim15's quantized-centroid spine, then the label self-join:
    // every fold runs over the 1e-6-quantized means, so cosine and
    // dist2 are raw bit-identical doubles on both engines
    "sim16_centroid_grid" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         px AS (
           SELECT label, unnest(generate_series(1, len(e))) AS dim,
                  unnest(e) AS x
           FROM v),
         m AS (
           SELECT label, dim,
                  round(CAST(CAST(sum(CAST(x AS DECIMAL(30,12)))
                        AS VARCHAR) AS DOUBLE) / count(*), 6) AS mean
           FROM px GROUP BY 1, 2),
         c AS (SELECT label, list(mean ORDER BY dim) AS cent
               FROM m GROUP BY 1)
         SELECT CAST(a.label AS BIGINT) AS label_a,
                CAST(b.label AS BIGINT) AS label_b,
                list_sum(list_transform(generate_series(1, len(a.cent)),
                    i -> a.cent[i] * b.cent[i]))
                  / (sqrt(list_sum(list_transform(
                        generate_series(1, len(a.cent)),
                        i -> a.cent[i] * a.cent[i])))
                     * sqrt(list_sum(list_transform(
                         generate_series(1, len(b.cent)),
                         i -> b.cent[i] * b.cent[i])))) AS cosine,
                list_sum(list_transform(generate_series(1, len(a.cent)),
                    i -> a.cent[i] * a.cent[i]))
                  - CAST(2 AS DOUBLE) *
                    list_sum(list_transform(generate_series(1, len(a.cent)),
                      i -> a.cent[i] * b.cent[i]))
                  + list_sum(list_transform(generate_series(1, len(b.cent)),
                      i -> b.cent[i] * b.cent[i])) AS dist2
         FROM c a JOIN c b ON a.label < b.label
         ORDER BY label_a, label_b""",
    // sim15's quantized-centroid spine + per-member dist2 fold, r6'd
    // distances into a pinned per-label mean; sim16's grid phrasing
    // for dij; the (ratio DESC, label) argmax on identical doubles
    "sim17_davies_bouldin" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         px AS (
           SELECT label, unnest(generate_series(1, len(e))) AS dim,
                  unnest(e) AS x
           FROM v),
         m AS (
           SELECT label, dim,
                  round(CAST(CAST(sum(CAST(x AS DECIMAL(30,12)))
                        AS VARCHAR) AS DOUBLE) / count(*), 6) AS mean
           FROM px GROUP BY 1, 2),
         c AS (SELECT label, list(mean ORDER BY dim) AS cent
               FROM m GROUP BY 1),
         sc AS (
           SELECT v.label,
                  round(sqrt(
                    list_sum(list_transform(generate_series(1, len(v.e)),
                      i -> v.e[i] * v.e[i]))
                    - CAST(2 AS DOUBLE) *
                      list_sum(list_transform(generate_series(1, len(v.e)),
                        i -> v.e[i] * c.cent[i]))
                    + list_sum(list_transform(
                        generate_series(1, len(c.cent)),
                        i -> c.cent[i] * c.cent[i]))), 6) AS dst
           FROM v JOIN c USING (label)),
         scat AS (
           SELECT CAST(label AS BIGINT) AS label,
                  CAST(count(*) AS BIGINT) AS n_members,
                  round(CAST(CAST(sum(CAST(dst AS DECIMAL(24,10)))
                        AS VARCHAR) AS DOUBLE) / count(*), 6) AS scatter
           FROM sc GROUP BY 1),
         grid AS (
           SELECT CAST(a.label AS BIGINT) AS li,
                  CAST(b.label AS BIGINT) AS lj,
                  list_sum(list_transform(generate_series(1, len(a.cent)),
                      i -> a.cent[i] * a.cent[i]))
                    - CAST(2 AS DOUBLE) *
                      list_sum(list_transform(generate_series(1, len(a.cent)),
                        i -> a.cent[i] * b.cent[i]))
                    + list_sum(list_transform(generate_series(1, len(b.cent)),
                        i -> b.cent[i] * b.cent[i])) AS dist2
           FROM c a JOIN c b ON a.label < b.label),
         bidir AS (
           SELECT li, lj, dist2 FROM grid
           UNION ALL SELECT lj AS li, li AS lj, dist2 FROM grid),
         sym AS (
           SELECT li, lj, round(sqrt(dist2), 6) AS dij
           FROM bidir WHERE round(sqrt(dist2), 6) > 0),
         r AS (
           SELECT sym.li, sym.lj, sa.n_members, sa.scatter AS si,
                  sb.scatter AS sj,
                  (sa.scatter + sb.scatter) / sym.dij AS rij
           FROM sym
           JOIN scat sa ON sa.label = sym.li
           JOIN scat sb ON sb.label = sym.lj),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY li
                       ORDER BY rij DESC, lj) AS rk
           FROM r)
         SELECT li AS label, n_members, si AS scatter,
                lj AS worst_other, round(rij, 6) AS db_term
         FROM rk WHERE rk = 1 ORDER BY label""",
    // sim15's per-half quantized-centroid spine; the same
    // index-ordered dist2 fold between the two half-centroids, r6'd
    "sim19_centroid_drift" ->
      """WITH v AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
                  vec_id % 2 = 0 AS even,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         px AS (
           SELECT label, even, unnest(generate_series(1, len(e))) AS dim,
                  unnest(e) AS x
           FROM v),
         m AS (
           SELECT label, even, dim,
                  round(CAST(CAST(sum(CAST(x AS DECIMAL(30,12)))
                        AS VARCHAR) AS DOUBLE) / count(*), 6) AS mean
           FROM px GROUP BY 1, 2, 3),
         c AS (SELECT label, even, list(mean ORDER BY dim) AS cent
               FROM m GROUP BY 1, 2),
         n AS (SELECT label, even, CAST(count(*) AS BIGINT) AS n
               FROM v GROUP BY 1, 2)
         SELECT a.label, na.n AS n_even, nb.n AS n_odd,
                round(sqrt(
                  list_sum(list_transform(generate_series(1, len(a.cent)),
                    i -> a.cent[i] * a.cent[i]))
                  - CAST(2 AS DOUBLE) *
                    list_sum(list_transform(generate_series(1, len(a.cent)),
                      i -> a.cent[i] * b.cent[i]))
                  + list_sum(list_transform(generate_series(1, len(b.cent)),
                      i -> b.cent[i] * b.cent[i]))), 6) AS drift
         FROM c a
         JOIN c b ON a.label = b.label AND a.even AND NOT b.even
         JOIN n na ON na.label = a.label AND na.even
         JOIN n nb ON nb.label = a.label AND NOT nb.even
         ORDER BY a.label""",
    // sim17's quantized-centroid spine; per (vec, centroid) r6'd
    // distance, per-vec a/b picks, s one IEEE chain, pinned mean
    "sim18_silhouette" ->
      """WITH v AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         px AS (
           SELECT label, unnest(generate_series(1, len(e))) AS dim,
                  unnest(e) AS x
           FROM v),
         m AS (
           SELECT label, dim,
                  round(CAST(CAST(sum(CAST(x AS DECIMAL(30,12)))
                        AS VARCHAR) AS DOUBLE) / count(*), 6) AS mean
           FROM px GROUP BY 1, 2),
         c AS (SELECT label AS cl, list(mean ORDER BY dim) AS cent
               FROM m GROUP BY 1),
         dist AS (
           SELECT v.vec_id, v.label, c.cl,
                  round(sqrt(
                    list_sum(list_transform(generate_series(1, len(v.e)),
                      i -> v.e[i] * v.e[i]))
                    - CAST(2 AS DOUBLE) *
                      list_sum(list_transform(generate_series(1, len(v.e)),
                        i -> v.e[i] * c.cent[i]))
                    + list_sum(list_transform(
                        generate_series(1, len(c.cent)),
                        i -> c.cent[i] * c.cent[i]))), 6) AS d
           FROM v CROSS JOIN c),
         ab AS (
           SELECT vec_id, label,
                  min(CASE WHEN label = cl THEN d END) AS a,
                  min(CASE WHEN label <> cl THEN d END) AS b
           FROM dist GROUP BY 1, 2),
         sv AS (
           SELECT label,
                  CASE WHEN greatest(a, b) > 0
                       THEN (b - a) / greatest(a, b)
                       ELSE CAST(0 AS DOUBLE) END AS sil
           FROM ab)
         SELECT label, CAST(count(*) AS BIGINT) AS n_members,
                round(CAST(CAST(sum(CAST(round(sil, 6) AS DECIMAL(24,10)))
                      AS VARCHAR) AS DOUBLE) / count(*), 6) AS mean_sil,
                CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_misfit
         FROM sv GROUP BY label ORDER BY label""",
    "sim5_jl_project" ->
      s"""$jlProjCte,
         u AS (
           SELECT vec_id,
                  unnest(generate_series(1, ${JlDims})) AS i,
                  unnest(p) AS pv
           FROM pj)
         SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, pv
         FROM u ORDER BY vec_id, pos""",
    "sim5_jl_topk" ->
      s"""$jlProjCte,
         n AS (
           SELECT vec_id, p,
                  sqrt(list_sum(list_transform(p, x -> x * x))) AS pn
           FROM pj),
         x AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         short AS (
           SELECT q_id, c_id FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                    row_number() OVER (PARTITION BY q.vec_id ORDER BY
                      list_sum(list_transform(generate_series(1, ${JlDims}),
                        i -> q.p[i] * c.p[i])) / (q.pn * c.pn) DESC,
                      c.vec_id) AS prank
             FROM n q JOIN n c
               ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
           WHERE prank <= 100),
         pairs AS (
           SELECT s.q_id, s.c_id,
                  list_sum(list_transform(generate_series(1, len(a.e)),
                    i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) AS cosine
           FROM short s
           JOIN x a ON a.vec_id = s.q_id
           JOIN x b ON b.vec_id = s.c_id)
         SELECT q_id, rank, c_id, round(cosine, 6) AS cosine FROM (
           SELECT q_id, c_id, cosine,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cosine DESC, c_id) AS rank
           FROM pairs) WHERE rank <= 5
         ORDER BY q_id, rank""",
    "sim8_mrl_topk" ->
      s"""WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e[1:${MrlDims}],
                    x -> x * x))) AS mn,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         short AS (
           SELECT q_id, c_id FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                    row_number() OVER (PARTITION BY q.vec_id ORDER BY
                      list_sum(list_transform(generate_series(1, ${MrlDims}),
                        i -> q.e[i] * c.e[i])) / (q.mn * c.mn) DESC,
                      c.vec_id) AS mrank
             FROM n q JOIN n c
               ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
           WHERE mrank <= 100),
         pairs AS (
           SELECT s.q_id, s.c_id,
                  list_sum(list_transform(generate_series(1, len(a.e)),
                    i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) AS cosine
           FROM short s
           JOIN n a ON a.vec_id = s.q_id
           JOIN n b ON b.vec_id = s.c_id)
         SELECT q_id, rank, c_id, round(cosine, 6) AS cosine FROM (
           SELECT q_id, c_id, cosine,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cosine DESC, c_id) AS rank
           FROM pairs) WHERE rank <= 5
         ORDER BY q_id, rank""",
    "sim7_mips_topk" ->
      """WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         pairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                  list_sum(list_transform(generate_series(1, len(q.e)),
                    i -> q.e[i] * c.e[i])) AS score
           FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
         SELECT q_id, rank, c_id, round(score, 6) AS score FROM (
           SELECT q_id, c_id, score,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY score DESC, c_id) AS rank
           FROM pairs) WHERE rank <= 5
         ORDER BY q_id, rank""",
    // sim1's arithmetic with the radius predicate instead of the
    // k-cutoff; the cosine doubles are bit-identical on both engines
    // (index-order folds), so the threshold set matches exactly
    "sim12_range_search" ->
      """WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         pairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                  list_sum(list_transform(generate_series(1, len(q.e)),
                    i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
           FROM n q JOIN n c ON q.vec_id < 50 AND q.vec_id <> c.vec_id)
         SELECT q_id, rank, c_id, round(cosine, 6) AS cosine FROM (
           SELECT q_id, c_id, cosine,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cosine DESC, c_id) AS rank
           FROM pairs WHERE cosine >= CAST(0.25 AS DOUBLE))
         ORDER BY q_id, rank""",
    "sim1_cosine_topk" ->
      """WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         pairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                  list_sum(list_transform(generate_series(1, len(q.e)),
                    i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
           FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
         SELECT q_id, rank, c_id, round(cosine, 6) AS cosine FROM (
           SELECT q_id, c_id, cosine,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cosine DESC, c_id) AS rank
           FROM pairs) WHERE rank <= 5
         ORDER BY q_id, rank""",
    // identical window slicing, ordered ≤8-element list folds, raw
    // IEEE doubles end to end (no rounding — the w24 discipline)
    "sim10_subseq_match" ->
      """WITH dly AS (
           SELECT event_type, date_trunc('day', ts) AS day,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS px
           FROM events GROUP BY 1, 2),
         ser AS (
           SELECT event_type, list(px ORDER BY day) AS v
           FROM dly GROUP BY 1),
         wins AS (
           SELECT event_type, v,
                  unnest(generate_series(0, len(v) - 8)) AS st
           FROM ser),
         sliced AS (
           SELECT event_type, st, v[st + 1 : st + 8] AS w
           FROM wins),
         m AS (SELECT event_type, st, w, list_sum(w) / 8 AS mu
               FROM sliced),
         sd AS (
           SELECT event_type, st, w, mu,
                  sqrt(list_sum(list_transform(w,
                    x -> (x - mu) * (x - mu))) / 8) AS sg
           FROM m),
         zn AS (
           SELECT event_type, st,
                  list_transform(w, x -> (x - mu) / sg) AS z
           FROM sd WHERE sg > 0),
         q AS (
           SELECT event_type AS q_type, st AS q_st, z AS qz
           FROM zn WHERE event_type = 'click'
           ORDER BY st DESC LIMIT 1),
         dist AS (
           SELECT zn.event_type, zn.st,
                  sqrt(list_sum(list_transform(generate_series(1, 8),
                    i -> (zn.z[i] - q.qz[i]) * (zn.z[i] - q.qz[i]))))
                    AS dist
           FROM zn, q
           WHERE NOT (zn.event_type = q.q_type AND zn.st = q.q_st))
         SELECT event_type, CAST(st AS BIGINT) AS win_start, dist
         FROM dist ORDER BY dist, event_type, win_start LIMIT 5""",
    // sim1's arithmetic gated by the label-equality predicate
    "sim9_filtered_topk" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, label, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         pairs AS (
           SELECT q.vec_id AS q_id, q.label AS label, c.vec_id AS c_id,
                  list_sum(list_transform(generate_series(1, len(q.e)),
                    i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
           FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
                            AND q.label = c.label)
         SELECT q_id, label, rank, c_id, round(cosine, 6) AS cosine FROM (
           SELECT q_id, label, c_id, cosine,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cosine DESC, c_id) AS rank
           FROM pairs) WHERE rank <= 5
         ORDER BY q_id, rank""",
    "sim21_binary_codes" ->
      """WITH codes AS (
           SELECT vec_id,
                  CAST(list_sum(list_transform(generate_series(1, 32),
                    i -> CASE WHEN embedding[i] > 0
                         THEN (1::BIGINT << (i - 1))
                         ELSE 0::BIGINT END)) AS BIGINT) AS h1,
                  CAST(list_sum(list_transform(generate_series(1, 32),
                    i -> CASE WHEN embedding[i + 32] > 0
                         THEN (1::BIGINT << (i - 1))
                         ELSE 0::BIGINT END)) AS BIGINT) AS h2
           FROM embeddings)
         SELECT vec_id, h1, h2 FROM codes ORDER BY vec_id""",
    "sim21_hamming_topk" ->
      """WITH codes AS (
           SELECT vec_id,
                  CAST(list_sum(list_transform(generate_series(1, 32),
                    i -> CASE WHEN embedding[i] > 0
                         THEN (1::BIGINT << (i - 1))
                         ELSE 0::BIGINT END)) AS BIGINT) AS h1,
                  CAST(list_sum(list_transform(generate_series(1, 32),
                    i -> CASE WHEN embedding[i + 32] > 0
                         THEN (1::BIGINT << (i - 1))
                         ELSE 0::BIGINT END)) AS BIGINT) AS h2
           FROM embeddings),
         q AS (SELECT vec_id AS q_id, h1 AS qh1, h2 AS qh2
               FROM codes WHERE vec_id < 10),
         r AS (
           SELECT q.q_id, c.vec_id AS c_id,
                  CAST(bit_count(xor(q.qh1, c.h1)) +
                       bit_count(xor(q.qh2, c.h2)) AS BIGINT) AS hamming
           FROM codes c CROSS JOIN q
           WHERE q.q_id <> c.vec_id),
         t AS (
           SELECT q_id, c_id, hamming,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY hamming, c_id) AS BIGINT) AS rank
           FROM r)
         SELECT q_id, rank, c_id, hamming
         FROM t WHERE rank <= 5 ORDER BY q_id, rank""",
    "sim21_rerank_topk" ->
      """WITH codes AS (
           SELECT vec_id,
                  CAST(list_sum(list_transform(generate_series(1, 32),
                    i -> CASE WHEN embedding[i] > 0
                         THEN (1::BIGINT << (i - 1))
                         ELSE 0::BIGINT END)) AS BIGINT) AS h1,
                  CAST(list_sum(list_transform(generate_series(1, 32),
                    i -> CASE WHEN embedding[i + 32] > 0
                         THEN (1::BIGINT << (i - 1))
                         ELSE 0::BIGINT END)) AS BIGINT) AS h2
           FROM embeddings),
         n AS (
           SELECT vec_id, embedding AS e,
                  sqrt(list_sum(list_transform(embedding, x -> x * x)))
                    AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS q_id, h1 AS qh1, h2 AS qh2
               FROM codes WHERE vec_id < 10),
         ham AS (
           SELECT q.q_id, c.vec_id AS c_id,
                  CAST(bit_count(xor(q.qh1, c.h1)) +
                       bit_count(xor(q.qh2, c.h2)) AS BIGINT) AS hamming
           FROM codes c CROSS JOIN q
           WHERE q.q_id <> c.vec_id),
         short AS (
           SELECT q_id, c_id, hamming FROM (
             SELECT q_id, c_id, hamming,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY hamming, c_id) AS hrank
             FROM ham) WHERE hrank <= 64),
         rer AS (
           SELECT s.q_id, s.c_id, s.hamming,
                  list_sum(list_transform(generate_series(1, len(nq.e)),
                    i -> nq.e[i] * nc.e[i])) / (nq.nrm * nc.nrm) AS cosine
           FROM short s
           JOIN n nq ON nq.vec_id = s.q_id
           JOIN n nc ON nc.vec_id = s.c_id)
         SELECT q_id, rank, c_id, round(cosine, 6) AS cosine, hamming
         FROM (SELECT q_id, c_id, cosine, hamming,
                      CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
               FROM rer) WHERE rank <= 5
         ORDER BY q_id, rank""",
    "sim4_quantize_int8" ->
      s"""$sq8Cte,
         u AS (
           SELECT vec_id, scale,
                  unnest(generate_series(1, len(embedding))) AS i,
                  unnest(embedding) AS x
           FROM s)
         SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
                CAST(round(x * scale) AS INTEGER) AS q8, scale
         FROM u ORDER BY vec_id, pos""",
    "sim4_quant_topk" ->
      s"""$sq8Cte,
         qz AS (
           SELECT vec_id,
                  list_transform(embedding, x -> round(x * scale)) AS q
           FROM s),
         n AS (
           SELECT vec_id, q,
                  list_sum(list_transform(q, x -> x * x)) AS qq
           FROM qz),
         pairs AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                  list_sum(list_transform(generate_series(1, len(q.q)),
                    i -> q.q[i] * c.q[i])) / sqrt(q.qq * c.qq) AS cosine
           FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
         SELECT q_id, rank, c_id, round(cosine, 6) AS cosine FROM (
           SELECT q_id, c_id, cosine,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cosine DESC, c_id) AS rank
           FROM pairs) WHERE rank <= 5
         ORDER BY q_id, rank""",
    "d5_embedding_neardup" ->
      """WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings WHERE vec_id < 200),
         n AS (
           SELECT vec_id, e,
                  sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v)
         SELECT a.vec_id AS va, b.vec_id AS vb,
                round(list_sum(list_transform(generate_series(1, len(a.e)),
                  i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) AS cosine
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE list_sum(list_transform(generate_series(1, len(a.e)),
                 i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) >= 0.35
         ORDER BY va, vb"""
  )
}
