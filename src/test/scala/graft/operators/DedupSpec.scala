package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Behavioral fixtures for MinHash+LSH and SimHash (the 100 TB dedup
  * path): identical docs collide with estimated Jaccard 1.0, disjoint
  * docs produce no candidate pair at all, and the signature estimate
  * tracks true shingle Jaccard on a crafted half-overlap pair.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Write a documents fixture and return its dir. */
  private def docs(rows: (Long, String)*): String = {
    val d = SparkTestSession.fixtureDir("dedup-fix")
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private val wordsA = (0 until 40).map(i => s"alpha$i").mkString(" ")
  private val wordsB = (0 until 40).map(i => s"beta$i").mkString(" ")
  // half-overlap: 20 shared words + 20 unique per side
  private val wordsC = ((0 until 20).map(i => s"alpha$i") ++
    (0 until 20).map(i => s"gamma$i")).mkString(" ")

  test("identical documents: equal signatures, est_jaccard = 1.0") {
    val d = docs(1L -> wordsA, 2L -> wordsA, 3L -> wordsB)
    val sigs = Dedup.signatures(spark, d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).size == 32)
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))

    val pairs = Dedup.minhashPairs(Dedup.signatures(spark, d), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("disjoint documents never become candidates (even at minEst=0)") {
    val d = docs(1L -> wordsA, 2L -> wordsB)
    val pairs = Dedup.minhashPairs(Dedup.signatures(spark, d), 0.0).collect()
    assert(pairs.isEmpty, "no shared shingle → no shared band bucket")
  }

  test("signature estimate tracks true Jaccard on a half-overlap pair") {
    // doc1 vs doc3 share the alpha0..alpha19 prefix. True 3-shingle
    // Jaccard = 18 shared / (38+38-18) ≈ 0.31; with 32 hashes the
    // estimator's std-err is ~0.08, so assert a generous band. (The
    // LSH bucket join is intentionally NOT used here — at J≈0.31 a
    // band collision has probability ≈ 8·J⁴ ≈ 7%, i.e. LSH correctly
    // prunes this pair; the estimator itself is what's under test.)
    val d = docs(1L -> wordsA, 3L -> wordsC)
    val sigs = Dedup.signatures(spark, d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val est = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b } / 32.0
    assert(est > 0.05 && est < 0.65, s"est=$est vs true≈0.31")
  }

  test("lsh-verified pipeline: true Jaccard confirms exact duplicates") {
    val d = docs(1L -> wordsA, 2L -> wordsA, 3L -> wordsB)
    val rows = Dedup.queries("d6_lsh_verified")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.toSeq == Seq((1L, 2L, 1.0, 1.0)),
      "identical docs: est AND true Jaccard both 1.0, no other pairs")
  }

  test("D6 true_jaccard cross-anchors to D2's oracle-verified jaccard") {
    // D6 is rows-only (xxhash64 has no DuckDB equivalent), but its
    // dedup DECISION value — true_jaccard — is the same quantity D2
    // computes under a full DuckDB oracle on the doc_id<100 subset.
    // Every LSH-surfaced pair inside that subset must carry exactly
    // the jaccard D2 reports for it (both round to 1e-6 before
    // compare), transitively oracle-anchoring the scale pipeline.
    val sf = SparkTestSession.Sf0001
    val d2 = TextAnalysis.queries("d2_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val d6 = Dedup.queries("d6_lsh_verified")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .filter { case (da, db, _) => da < 100 && db < 100 }
    assert(d6.nonEmpty,
      "vacuous: no LSH candidate pair inside doc_id<100 at sf0.001")
    d6.foreach { case (da, db, tj) =>
      assert(d2.contains((da, db)),
        s"LSH pair ($da,$db) missing from D2's oracle-verified pairs")
      assert(d2((da, db)) == tj,
        s"($da,$db): D2 jaccard=${d2((da, db))} vs D6 true_jaccard=$tj")
    }
  }

  test("d12 degree-oriented count equals the naive closed-wedge count") {
    // the degree-ordered orientation is an optimization, not a
    // semantics change: per-doc triangle counts must equal a
    // sequential adjacency-set recomputation over the same edges
    val sf = SparkTestSession.Sf0001
    val und = TextAnalysis.ngramJaccardPairs(spark, sf, maxId = 200,
        minJ = 0.01)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val want = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- und; c <- adj(a) if c > b && adj(b).contains(c)) {
      want(a) += 1; want(b) += 1; want(c) += 1
    }
    val got = Dedup.queries("d12_triangle_count")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want.nonEmpty, "vacuous: no triangles at sf0.001")
    assert(got == want.toMap,
      s"mismatch: got ${got.toSeq.sorted} want ${want.toSeq.sorted}")
  }

  test("LSH recall: banding surfaces the high-Jaccard pairs D2 knows about") {
    // the cross-anchor above proves PRECISION (every surfaced pair
    // carries D2's oracle-verified jaccard); this is the other
    // direction: the banding must FIND the high-overlap pairs the
    // exact baseline reports. With 8 bands × 4 rows the analytic miss
    // probability (1−J⁴)⁸ is ~11% at J=0.7, ~1.5% at J=0.8 and ~0.02%
    // at J=0.9 — and the hash family is seeded xxhash64, so observed
    // recall on this corpus is a fixed quantity, not a flake.
    val sf = SparkTestSession.Sf0001
    val cands = Dedup.minhashPairs(Dedup.signatures(spark, sf), 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val high = TextAnalysis.queries("d2_ngram_jaccard")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .filter(_._2 >= 0.7)
    assert(high.nonEmpty, "vacuous: no D2 pair with jaccard >= 0.7")
    val missed = high.filterNot { case (p, _) => cands(p) }
    assert(missed.isEmpty, s"banding missed high-Jaccard pairs: $missed")
  }

  test("D6 true_jaccard equals D2 jaccard on a crafted near-dup fixture") {
    // deterministic companion to the testdata cross-check: 35 shared +
    // 5 unique words per side gives true shingle Jaccard well above
    // the LSH est>=0.5 cut, so the pair MUST surface in both paths.
    val shared = (0 until 35).map(i => s"common$i")
    val nearA = (shared ++ (0 until 5).map(i => s"left$i")).mkString(" ")
    val nearB = (shared ++ (0 until 5).map(i => s"right$i")).mkString(" ")
    val d = docs(1L -> nearA, 2L -> nearB, 3L -> wordsB)
    val d6 = Dedup.queries("d6_lsh_verified")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val d2 = TextAnalysis.queries("d2_ngram_jaccard")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(d6.contains((1L, 2L)), s"LSH must surface the near-dup pair: $d6")
    assert(d2((1L, 2L)) == d6((1L, 2L)),
      s"fixture pair: D2=${d2.get((1L, 2L))} vs D6=${d6.get((1L, 2L))}")
  }

  test("bloom incremental dedup: subset of the exact twin, high recall") {
    // Bloom guarantees NO false negatives on membership, so every doc
    // the bloom path reports as new is truly new — its result must be
    // a SUBSET of the oracle-checked exact anti-join. False positives
    // only shrink the result (a new doc wrongly judged seen); with
    // 1.6M bits for ~40 existing hashes the fp probability is ~0, so
    // recall on fixtures and the sf0.001 corpus is pinned ≥ 0.9.
    // Fixture: docs 4,8 copy existing text (1,2) → dropped by BOTH
    // paths; doc 12 is fresh → reported by BOTH.
    val d = docs(1L -> wordsA, 2L -> wordsB, 3L -> wordsC,
      4L -> wordsA, 8L -> wordsB, 12L -> (0 until 40)
        .map(i => s"fresh$i").mkString(" "))
    Dedup.bloom.invalidate(spark, d)
    val exact = Dedup.queries("d7_incremental_new")(spark, d).collect()
      .map(_.getLong(0)).toSet
    val bloom = Dedup.queries("d7_bloom_new")(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(exact == Set(12L), s"exact twin wrong on fixture: $exact")
    assert(bloom == Set(12L), s"bloom path wrong on fixture: $bloom")

    val sf = SparkTestSession.Sf0001
    val exactSf = Dedup.queries("d7_incremental_new")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val bloomSf = Dedup.queries("d7_bloom_new")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(exactSf.nonEmpty)
    assert(bloomSf.subsetOf(exactSf),
      s"bloom invented new docs: ${bloomSf.diff(exactSf)}")
    val recall = bloomSf.size.toDouble / exactSf.size
    assert(recall >= 0.9, s"bloom recall $recall below 0.9")
  }

  test("bloom path on an empty existing corpus reports every doc new") {
    // first-ever ingest: every doc_id % 4 == 0, the existing
    // partition is empty and the bloom aggregate evals to NULL —
    // might_contain over a null bloom would null the predicate and
    // silently drop ALL rows (recall 0, undetectable by the subset
    // assertion). The operator must treat no-bloom as nothing-seen.
    val d = docs(0L -> wordsA, 4L -> wordsB, 8L -> wordsC)
    Dedup.bloom.invalidate(spark, d)
    val exact = Dedup.queries("d7_incremental_new")(spark, d).collect()
      .map(_.getLong(0)).toSet
    val bloom = Dedup.queries("d7_bloom_new")(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(exact == Set(0L, 4L, 8L))
    assert(bloom == exact, s"empty-corpus bloom must report all new: $bloom")
  }

  test("D11 PageRank equals a sequential power iteration (≤1e-9/node)") {
    // same slice as the query (sf0.001 documents, doc_id < 100); the
    // distributed per-round join+agg may sum contributions in any
    // order, so the anchor allows float-noise tolerance only
    val sf = SparkTestSession.Sf0001
    import org.apache.spark.sql.functions.col
    val nodes = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 100).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    val pairs = TextAnalysis.ngramJaccardPairs(spark, sf, maxId = 100,
      minJ = 0.02).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "vacuous: no near-dup edges in the slice")
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val n = nodes.length
    val damp = 0.85; val teleport = (1.0 - damp) / n
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      val contrib = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      adj.foreach { case (src, dsts) =>
        val share = rank(src) / dsts.length
        dsts.foreach(dst => contrib(dst) += share)
      }
      rank = nodes.map(v => v -> (teleport + damp * contrib(v))).toMap
    }
    val got = Dedup.queries("d11_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == rank.keySet)
    rank.foreach { case (v, r) =>
      assert(math.abs(got(v) - r) <= 1e-9, s"node $v: seq=$r got=${got(v)}")
    }
    // structural invariants: isolated vertices sit exactly on the
    // teleport floor; total mass stays ≤ 1 (dangling mass undistributed)
    val isolated = nodes.filterNot(adj.contains)
    assert(isolated.nonEmpty, "vacuous: every doc has a near-dup edge?")
    // fixed-point kernel: the floor is EXACTLY ((100-85)*1e15 div
    // (100*n)) micro-units rendered once (exact below 2^53)
    val tFloor = ((15L * graft.operators.Dedup.PrUnit) / (100L * n))
      .toDouble / 1e15
    isolated.foreach(v => assert(got(v) == tFloor))
    assert(got.values.sum <= 1.0 + 1e-9)
  }

  test("D14 label propagation matches the sequential update; communities nest in components") {
    // same slice as the query; labels are exact integers so the
    // sequential recomputation of the identical synchronous
    // self-vote/min-tie update must match bit-for-bit
    val sf = SparkTestSession.Sf0001
    import org.apache.spark.sql.functions.col
    val nodes = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 100).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    val pairs = TextAnalysis.ngramJaccardPairs(spark, sf, maxId = 100,
      minJ = 0.02).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "vacuous: no near-dup edges in the slice")
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    var label = nodes.map(v => v -> v).toMap
    for (_ <- 1 to 4) {
      label = nodes.map { v =>
        val votes = (v +: adj.getOrElse(v, Seq.empty))
          .map(label).groupBy(identity).map { case (l, o) => l -> o.size }
        // max count, ties to the smallest label
        v -> votes.toSeq.minBy { case (l, n) => (-n, l) }._1
      }.toMap
    }
    val got = Dedup.queries("d14_label_prop")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == label.keySet)
    label.foreach { case (v, l) =>
      assert(got(v) == l, s"node $v: seq=$l got=${got(v)}")
    }
    // structural: labels only travel along edges, so every community
    // must sit inside ONE connected component; isolated docs keep
    // their own id; and the slice must form a non-trivial community
    val comp = Dedup.queries("d10_dup_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.groupBy(_._2).foreach { case (lbl, members) =>
      val comps = members.keys.map(comp).toSet
      assert(comps.size == 1,
        s"community $lbl spans components $comps")
    }
    val isolated = nodes.filterNot(adj.contains)
    assert(isolated.nonEmpty && isolated.forall(v => got(v) == v))
    assert(got.groupBy(_._2).exists(_._2.size > 1),
      "vacuous: no multi-doc community formed")
  }

  test("DECON2 fuzzy decon: precision exact vs the D2-style baseline, recall on crossings") {
    // sf0.01: the planted near-dup pairs cross the mod-5 eval
    // boundary there (none cross mod 97, which is why DECON2 uses a
    // different eval stand-in than DECON1)
    val sf = "/root/testdata/sf0.01"
    val got = Curation.queries("decon2_fuzzy_overlap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got.nonEmpty, "vacuous: no contaminated docs surfaced")
    // exhaustive exact crossings ≥ 0.5 via the shingle-equi-join
    // baseline (no banding, no estimation — shares only the
    // oracle-checked D2 shape)
    val exact = TextAnalysis.ngramJaccardPairs(spark, sf,
        maxId = Long.MaxValue, minJ = 0.5)
      .select("da", "db", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (da, db, _) => (da % 5 == 0) != (db % 5 == 0) }
      .map { case (da, db, j) =>
        (if (da % 5 == 0) (db, da) else (da, db)) -> j
      }.toMap
    // precision: every reported pair is a true ≥0.5 crossing and
    // carries the exact jaccard (decon2's value is r6-rounded)
    got.foreach { case (p, tj) =>
      assert(exact.contains(p), s"pair $p not in the exact baseline")
      assert(math.abs(exact(p) - tj) <= 1e-6,
        s"$p: exact=${exact(p)} reported=$tj")
    }
    // recall: the banding's analytic miss rate at J=0.8 is ~1.5%
    // ((1−J⁴)⁸), and the seeded hash family makes observed recall a
    // fixed quantity — assert the high-overlap crossings are found
    val high = exact.filter(_._2 >= 0.8)
    assert(high.nonEmpty, "vacuous: no crossing with J >= 0.8")
    val found = high.keys.count(got.contains)
    assert(found.toDouble / high.size >= 0.8,
      s"recall ${found.toDouble / high.size} over ${high.size} high-J crossings")
  }

  test("D8 banded pairs equal an exhaustive Hamming search (pigeonhole)") {
    // 4 bands × 16 bits: a pair at Hamming ≤ 3 differs in at most 3
    // bits, so at least one of the 4 bands is untouched — the band
    // equi-join finds EVERY such pair, and the popcount verify keeps
    // nothing else. D8 is therefore exact over the h ≤ 3 predicate;
    // prove it by recomputing all pairs from the oracle-shaped D4
    // bitstrings (no banding) and asserting set equality.
    val sf = "/root/testdata/sf0.01"
    val sigs = Dedup.queries("d4_simhash")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val exact = (for {
      (da, sa) <- sigs; (db, sb) <- sigs
      if da < db && ham(sa, sb) <= 3
    } yield (da, db, ham(sa, sb).toLong)).toSet
    assert(exact.nonEmpty, "vacuous: no pair at hamming <= 3 at sf0.01")
    val banded = Dedup.queries("d8_simhash_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == exact,
      s"missed=${exact.diff(banded)} extra=${banded.diff(exact)}")
  }

  test("8×8 banding is pigeonhole-complete through Hamming 7, and no further") {
    // the MM5c production geometry: 8 bands × 8 bits. A pair at
    // Hamming ≤ 7 cannot differ in all 8 bands, so recall is perfect
    // exactly up to maxDist = bands − 1 = 7 — prove it on signatures
    // with CONTROLLED distances (7 kept, 8 dropped, bits spread so
    // every band is touched in the distance-8 case) plus a
    // pseudo-random field checked against an exhaustive popcount scan.
    import spark.implicits._
    val base = 0x0123456789abcdefL
    def flip(x: Long, bits: Seq[Int]) = bits.foldLeft(x)((a, b) => a ^ (1L << b))
    val crafted = Seq(
      1L -> base,
      2L -> flip(base, Seq(0, 9, 18, 27, 36, 45, 54)),      // d=7, 7 bands
      3L -> flip(base, Seq(0, 9, 18, 27, 36, 45, 54, 63)),  // d=8, ALL bands
      4L -> flip(base, Seq(5, 14, 23)))                     // d=3
    val field = (10L until 60L).map(i =>
      i -> graft.SparkTestSession.splitmix64(i)) ++
      Seq(60L -> flip(graft.SparkTestSession.splitmix64(10L), Seq(2, 40)))
    val all = crafted ++ field
    val got = Dedup.hammingPairs(all.toDF("id", "h"), "id", "h",
        bands = 8, maxDist = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = (for {
      (da, sa) <- all; (db, sb) <- all
      if da < db && java.lang.Long.bitCount(sa ^ sb) <= 7
    } yield (da, db, java.lang.Long.bitCount(sa ^ sb).toLong)).toSet
    assert(exact.contains((1L, 2L, 7L)) && exact.contains((1L, 4L, 3L)))
    assert(!exact.exists(p => p._1 == 1L && p._2 == 3L), "d=8 must be out")
    assert(got == exact, s"missed=${exact.diff(got)} extra=${got.diff(exact)}")
    // the engine refuses a radius its banding can't guarantee
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(all.toDF("id", "h"), "id", "h",
        bands = 8, maxDist = 8)
    }
  }

  test("connected components equal union-find on random graphs") {
    // property: for ANY edge set, the distributed label propagation
    // must produce exactly the components a sequential union-find
    // computes. 12 seeded random graphs across densities (sparse →
    // everything chains); splitmix64-derived, no wall-clock
    // randomness.
    import spark.implicits._
    def sm(x: Long): Long = graft.SparkTestSession.splitmix64(x)
    for (trial <- 1 to 12) {
      val nV = 6 + (math.abs(sm(trial * 1009L)) % 25).toInt
      val nE = (math.abs(sm(trial * 2003L)) % (2 * nV)).toInt
      val edges = (0 until nE).map { i =>
        val a = math.abs(sm(trial * 70001L + i * 2)) % nV
        val b = math.abs(sm(trial * 70001L + i * 2 + 1)) % nV
        (a, b)
      }.filter(e => e._1 != e._2)
      // sequential union-find reference
      val parent = Array.tabulate(nV)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until nV).map { v =>
        // canonical = min vertex in the component
        v.toLong -> (0 until nV).filter(u => find(u) == find(v)).min.toLong
      }.toMap
      val got =
        if (edges.isEmpty)
          (0 until nV).map(v => v.toLong -> v.toLong).toMap
        else Dedup.connectedComponents(
            edges.map { case (a, b) => (a, b) }.toDF("da", "db"),
            (0 until nV).map(_.toLong).toDF("doc_id"))._1
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"trial $trial (nV=$nV, edges=$edges): $got vs $expected")
    }
  }

  test("sql7 recursive closure equals d10's iterative components") {
    // the engine's two component paths — in-plan WITH RECURSIVE
    // (UnionLoop) vs the driver-side iterative loop — must produce
    // identical clusters over the identical edge slice
    val sf = graft.SparkTestSession.Sf0001
    val viaSql = Relational.queries("sql7_recursive_closure")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.queries("d10_dup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaLoop)
    // guard for sql7's termination bound (the SHARED constant the SQL
    // interpolates): the bounded walk is exact only while every
    // component's diameter stays ≤ the depth; cluster size bounds
    // diameter + 1
    val maxCluster = viaLoop.groupBy(_._2).values.map(_.size).max
    assert(maxCluster <= Relational.Sql7SliceDepth + 1,
      s"cluster of $maxCluster docs — sql7's depth bound " +
        s"${Relational.Sql7SliceDepth} no longer covers the diameter")
  }

  test("connected components: transitive chains collapse, singletons stand") {
    // chain 1-2, 2-3 (1≈3 never scored) → one cluster with canonical
    // 1; separate pair 10-11; isolated 20 stays its own singleton; a
    // long path 30-31-32-33-34 exercises multi-round propagation
    // (diameter 4 > 1 iteration)
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L)).toDF("da", "db")
    val verts = Seq(1L, 2L, 3L, 10L, 11L, 20L, 30L, 31L, 32L, 33L, 34L)
      .toDF("doc_id")
    val got = Dedup.connectedComponents(pairs, verts)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L,
      33L -> 30L, 34L -> 30L))
  }

  // shared fixture for the full-corpus graph anchors below: the
  // verified J ≥ 0.5 edge table + the full vertex set at sf0.001
  private def corpusGraph: (Array[Long], Array[(Long, Long)]) = {
    import org.apache.spark.sql.functions.col
    val sf = SparkTestSession.Sf0001
    val nodes = graft.Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val pairs = Dedup.corpusPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "vacuous: no verified corpus dup edges")
    (nodes, pairs)
  }

  test("D11b corpus PageRank equals a sequential power iteration (≤1e-9/node)") {
    // the corpus variant of the D11 anchor: same 10-round damped
    // power iteration, but over the verified LSH graph and EVERY doc
    val sf = SparkTestSession.Sf0001
    val (nodes, pairs) = corpusGraph
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val n = nodes.length
    val damp = 0.85; val teleport = (1.0 - damp) / n
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      val contrib = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      adj.foreach { case (src, dsts) =>
        val share = rank(src) / dsts.length
        dsts.foreach(dst => contrib(dst) += share)
      }
      rank = nodes.map(v => v -> (teleport + damp * contrib(v))).toMap
    }
    val got = Dedup.queries("d11_pr_corpus")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == rank.keySet)
    rank.foreach { case (v, r) =>
      assert(math.abs(got(v) - r) <= 1e-9, s"node $v: seq=$r got=${got(v)}")
    }
    // isolated docs (the corpus majority) sit exactly on the teleport
    // floor; total mass bounded (dangling mass undistributed)
    val isolated = nodes.filterNot(adj.contains)
    assert(isolated.length > nodes.length / 2,
      "fixture drift: dup clusters should be rare in the corpus")
    // fixed-point kernel: the floor is EXACTLY ((100-85)*1e15 div
    // (100*n)) micro-units rendered once (exact below 2^53)
    val tFloor = ((15L * graft.operators.Dedup.PrUnit) / (100L * n))
      .toDouble / 1e15
    isolated.foreach(v => assert(got(v) == tFloor))
    assert(got.values.sum <= 1.0 + 1e-9)
  }

  test("D14b corpus LPA matches the sequential update; communities nest in D10b components") {
    val sf = SparkTestSession.Sf0001
    val (nodes, pairs) = corpusGraph
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    var label = nodes.map(v => v -> v).toMap
    for (_ <- 1 to 4) {
      label = nodes.map { v =>
        val votes = (v +: adj.getOrElse(v, Seq.empty))
          .map(label).groupBy(identity).map { case (l, o) => l -> o.size }
        v -> votes.toSeq.minBy { case (l, n) => (-n, l) }._1
      }.toMap
    }
    val got = Dedup.queries("d14_lpa_corpus")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == label.keySet)
    label.foreach { case (v, l) =>
      assert(got(v) == l, s"node $v: seq=$l got=${got(v)}")
    }
    val comp = Dedup.queries("d10_cc_corpus")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.groupBy(_._2).foreach { case (lbl, members) =>
      val comps = members.keys.map(comp).toSet
      assert(comps.size == 1, s"community $lbl spans components $comps")
    }
    assert(got.groupBy(_._2).exists(_._2.size > 1),
      "vacuous: no multi-doc corpus community formed")
  }

  test("SQL7b corpus closure is row-identical to the iterative D10b components") {
    // the two corpus component paths — in-plan recursion (bounded
    // walk at the SHARED Relational.Sql7CorpusDepth the SQL
    // interpolates) vs the driver-loop fixpoint — must land on the
    // SAME clusters; this is also the exactness guard for the depth
    // bound (a cluster outgrowing the depth would diverge here)
    val sf = SparkTestSession.Sf0001
    val viaSql = Relational.queries("sql7_closure_corpus")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val viaLoop = Dedup.queries("d10_cc_corpus")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaSql.sameElements(viaLoop))
    assert(viaSql.exists { case (id, c) => id != c },
      "vacuous: no non-trivial corpus cluster")
    // measure the ACTUAL graph diameter (per-component BFS over the
    // collected corpus edges — components are tiny) and assert it
    // against the constant, so the bound's validity is a measured
    // invariant rather than a narrated one
    val (_, pairs) = corpusGraph
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def ecc(src: Long): Int = {
      var frontier = Set(src); var seen = Set(src); var depth = 0
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj(_)).diff(seen)
        if (next.nonEmpty) depth += 1
        seen ++= next; frontier = next
      }
      depth
    }
    val diameter = if (adj.isEmpty) 0 else adj.keys.map(ecc).max
    assert(diameter <= Relational.Sql7CorpusDepth,
      s"measured corpus diameter $diameter exceeds sql7_closure_corpus's " +
        s"depth bound ${Relational.Sql7CorpusDepth} — the bounded walk " +
        "is no longer exact")
  }

  test("D13b corpus clustering coefficient equals the sequential recompute") {
    val sf = SparkTestSession.Sf0001
    val (_, pairs) = corpusGraph
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val want = adj.filter(_._2.size >= 2).map { case (v, nbrs) =>
      val tri = nbrs.toSeq.combinations(2)
        .count { case Seq(a, b) => adj(a).contains(b) }
      val cc = BigDecimal(2.0 * tri / (nbrs.size.toLong * (nbrs.size - 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      v -> ((nbrs.size.toLong, tri.toLong, cc))
    }
    val got = Dedup.queries("d13_coeff_corpus")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(want.nonEmpty, "vacuous: no deg ≥ 2 corpus node")
    assert(got == want,
      s"mismatch: got ${got.toSeq.sorted} want ${want.toSeq.sorted}")
    assert(got.values.exists(_._3 > 0.0), "vacuous: no corpus triangle")
  }

  test("corpus CC converges in at most diameter+1 rounds (measured, not argued)") {
    // the 100 TB scale claim for every CC consumer (d10_cc_corpus,
    // mm9, d16) is "rounds ~ cluster diameter"; this measures it on
    // the real corpus graph. Max corpus cluster size is 4 (measured
    // at sf0.001/0.01/0.1) so diameter <= 3; allow diameter rounds +
    // the fixpoint confirmation round.
    val sf = SparkTestSession.Sf0001
    val (_, pairs) = corpusGraph
    val maxClusterDiameter = 3
    // the kernel behind d10_cc_corpus's ccLabels build, on the same
    // inputs; it reports the rounds of THIS call with its labels
    val (_, rounds) = Dedup.connectedComponents(Dedup.corpusPairs(spark, sf),
      graft.Tables.documents(spark, sf).select("doc_id"))
    assert(rounds >= 1 && rounds <= maxClusterDiameter + 1,
      s"corpus CC took $rounds rounds (bound ${maxClusterDiameter + 1})")
    assert(pairs.nonEmpty)
  }

  test("D21 k-core matches a sequential peel and reaches its fixed point") {
    val sf = SparkTestSession.Sf0001
    val (nodes, pairs) = corpusGraph
    // sequential synchronous peel, same fixed 8-round budget
    def peel(edges: Set[(Long, Long)], k: Int)
        : (Vector[Set[Long]], Set[(Long, Long)]) = {
      var e = edges
      var ns = Vector.empty[Set[Long]]
      for (_ <- 1 to 8) {
        val deg = e.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).map { case (v, c) => v -> c.size }
        val keep = deg.filter(_._2 >= k).keySet.toSet
        ns :+= keep
        e = e.filter(p => keep(p._1) && keep(p._2))
      }
      (ns, e)
    }
    val (n2s, e2) = peel(pairs.toSet, 2)
    val (n3s, _) = peel(e2, 3)
    // the 8-round budget is a literal of the operator: the peel must
    // be AT its fixed point by the last round, or the bound is a lie
    assert(n2s(7) == n2s(6), "2-core peel not at fixpoint within 8 rounds")
    assert(n3s(7) == n3s(6), "3-core peel not at fixpoint within 8 rounds")
    val c1 = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val exp = nodes.map { v =>
      v -> (if (n3s(7)(v)) 3L else if (n2s(7)(v)) 2L
            else if (c1(v)) 1L else 0L)
    }.toMap
    val got = Dedup.queries("d21_kcore")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp)
    // non-vacuity: the corpus graph populates the whole ladder
    assert(Set(0L, 1L, 2L, 3L).subsetOf(got.values.toSet),
      s"coreness ladder degenerate: ${got.values.toSet}")
  }

  test("D22 assortativity matches the sequential Newman r; cliques explain 1") {
    val sf = SparkTestSession.Sf0001
    val (_, pairs) = corpusGraph
    val deg = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (v, c) => v -> c.size.toLong }
    val dir = pairs ++ pairs.map(p => (p._2, p._1))
    val m2 = dir.length.toLong
    val sjk = dir.map(p => deg(p._1) * deg(p._2)).sum
    val sj = dir.map(p => deg(p._1)).sum
    val sj2 = dir.map(p => deg(p._1) * deg(p._1)).sum
    val r = (m2 * sjk - sj * sj).toDouble / (m2 * sj2 - sj * sj).toDouble
    val row = Dedup.queries("d22_assortativity")(spark, sf).head()
    assert(row.getLong(0) == m2 / 2 && row.getLong(1) == deg.size.toLong)
    assert(row.getDouble(2) == r, s"got ${row.getDouble(2)} exp $r")
    // the corpus dup graph is clique-structured: every edge joins
    // equal-degree endpoints, which forces r = 1 exactly — assert the
    // structural CAUSE alongside the value so a future corpus that
    // breaks the pattern fails here with the right message
    if (pairs.forall(p => deg(p._1) == deg(p._2)))
      assert(row.getDouble(2) == 1.0)
  }

  test("D23 harmonic centrality matches a sequential BFS shell count") {
    val sf = SparkTestSession.Sf0001
    val (_, pairs) = corpusGraph
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      .withDefaultValue(Set.empty[Long])
    val got = Dedup.queries("d23_harmonic")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.keySet == adj.keys.toSet && got.nonEmpty)
    adj.keys.foreach { v =>
      val s1 = adj(v)
      val s2 = s1.flatMap(adj) -- s1 - v
      val s3 = s2.flatMap(adj) -- s2 -- s1 - v
      val h = s1.size.toDouble + s2.size.toDouble / 2 + s3.size.toDouble / 3
      assert(got(v) == ((s1.size.toLong, s2.size.toLong, s3.size.toLong,
        h)), s"node $v shells")
    }
    // the clique-structured corpus never sees past distance 1 (all
    // shells n2 = n3 = 0 — asserted, it IS the corpus's structure)…
    assert(got.values.forall(r => r._2 == 0 && r._3 == 0),
      "corpus grew non-clique structure; update this spec's claim")
    // …so the distance-2/3 shell logic is exercised on a planted
    // path graph 0-1-2-3-4-5 where every shell size is known
    import spark.implicits._
    val path = (0L to 4L).map(i => (i, i + 1)).toDF("da", "db")
    val h = Dedup.harmonicShells(path).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // node 0: shells {1}, {2}, {3} → H = 1 + 1/2 + 1/3
    assert(h(0L) == ((1L, 1L, 1L, 1.0 + 0.5 + 1.0 / 3)))
    // node 2 (interior): {1,3}, {0,4}, {5} → 2 + 1 + 1/3
    assert(h(2L) == ((2L, 2L, 1L, 2.0 + 1.0 + 1.0 / 3)))
    // node 3 (interior, symmetric): {2,4}, {1,5}, {0}
    assert(h(3L) == ((2L, 2L, 1L, 2.0 + 1.0 + 1.0 / 3)))
  }

  test("D24 modularity: boundary-edge kernel on a planted bridge; corpus blocks fold") {
    import spark.implicits._
    // planted: triangles {1,2,3} and {4,5,6} bridged by edge 3–4,
    // hand-labeled as two communities — the one shape the all-clique
    // corpus can't produce: a community with a BOUNDARY edge, where
    // d_c (7 = 2·3 intra + 1 bridge) ≠ 2·l_c and the −(d/(2m))²
    // term does real work. Every cell is hand-countable: m = 7,
    // q_c = 3/7 − (7/14)² for both communities.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("da", "db")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("doc_id", "label")
    val blocks = Dedup.modularityBlocks(pairs, labels).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val qExp = 3.0 / 7.0 - (7.0 / 14.0) * (7.0 / 14.0)
    assert(blocks(1L) == ((3L, 3L, 7L, 7L, qExp)))
    assert(blocks(4L) == ((3L, 3L, 7L, 7L, qExp)))
    // the bridge edge is counted in m but in neither l_intra
    assert(blocks.values.map(_._2).sum == 6L &&
      blocks.values.head._4 == 7L)

    // corpus run: labels are D14b's LPA labels, so every block must
    // match a real community; the clique-structured corpus has no
    // boundary edges (d_c = 2·l_c exactly — asserted, it IS the
    // structure), and the Σq_c fold lands in modularity's range
    val sf = SparkTestSession.Sf0001
    val corpus = Dedup.queries("d24_modularity")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(corpus.nonEmpty, "vacuous: no corpus communities")
    corpus.foreach { b =>
      assert(b._4 == 2 * b._3,
        s"community ${b._1} grew a boundary edge; update this claim")
    }
    val m = corpus.head._5
    assert(corpus.map(_._3).sum == m, "intra edges must partition m")
    val q = corpus.map(_._6).sum
    assert(q >= 0.0 && q <= 1.0, s"Q=$q outside modularity range")
    // cross-op consistency: the member set equals the degree-≥1 docs
    // of the corpus pair graph
    val (_, edges) = corpusGraph
    val members = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(corpus.map(_._2).sum == members.size.toLong)
  }

  test("D25 edge strength: bridge scores zero on a planted graph; corpus matches clique structure") {
    import spark.implicits._
    def r6v(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // planted: triangles {1,2,3} and {4,5,6} bridged by 3–4. The
    // bridge has NO common neighbor (the false-merge signature);
    // each triangle edge has exactly one, whose degree is 2 except
    // the bridge endpoints' shared neighbors (deg 3). Hand-counts:
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("da", "db")
    val m = Dedup.edgeStrength(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(m.size == 7)
    assert(m((3L, 4L)) == ((0L, 0.0)), "bridge must score zero")
    // (1,2)'s common neighbor is 3 (deg 3: 1,2,4); (1,3)/(2,3)'s is
    // the opposite triangle corner at deg 2; symmetric on 4/5/6
    assert(m((1L, 2L)) == ((1L, r6v(1.0 / math.log(3.0)))))
    assert(m((5L, 6L)) == ((1L, r6v(1.0 / math.log(3.0)))))
    assert(m((1L, 3L)) == ((1L, r6v(1.0 / math.log(2.0)))))
    assert(m((2L, 3L)) == ((1L, r6v(1.0 / math.log(2.0)))))
    assert(m((4L, 5L)) == ((1L, r6v(1.0 / math.log(2.0)))))
    assert(m((4L, 6L)) == ((1L, r6v(1.0 / math.log(2.0)))))

    // corpus: the dup graph is clique-structured (asserted by
    // D22/D23), so every edge inside a size-c component must carry
    // cn = c−2 and aa = (c−2)·r6(1/ln(c−1)) — the decimal fold of
    // identical 6-dp terms is an exact multiple
    val sf = SparkTestSession.Sf0001
    val comp = Dedup.queries("d10_cc_corpus")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = comp.groupBy(_._2).map { case (l, ms) => l -> ms.size }
    val es = Dedup.queries("d25_edge_strength")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(es.nonEmpty, "vacuous: no corpus edges")
    es.foreach { case (da, db, cn, aa) =>
      val c = sizes(comp(da))
      assert(comp(da) == comp(db), s"edge ($da,$db) spans components")
      assert(cn == c - 2L,
        s"edge ($da,$db): cn=$cn in a size-$c clique; structure changed")
      if (c == 2) assert(aa == 0.0, s"pair-only edge ($da,$db) aa")
      else {
        val term = BigDecimal(r6v(1.0 / math.log((c - 1).toDouble)))
        assert(aa == (term * (c - 2)).toDouble, s"edge ($da,$db) aa")
      }
    }
  }

  test("D26 edge Jaccard: planted bridge cells are hand-countable; corpus edges saturate") {
    import spark.implicits._
    // the D25 planted shape: triangles {1,2,3} and {4,5,6} bridged
    // by 3–4. Degrees: 1,2,5,6 → 2; 3,4 → 3. Hand counts:
    // (1,2): common {3}, union 2+2−2−1 = 1 → J = 1.0
    // (1,3): common {2}, union 2+3−2−1 = 2 → J = 0.5
    // (3,4): common ∅,  union 3+3−2−0 = 4 → J = 0.0 (the bridge)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("da", "db")
    val m = Dedup.edgeJaccard(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6))).toMap
    assert(m.size == 7)
    assert(m((1L, 2L)) == ((2L, 2L, 1L, 1L, 1.0)))
    assert(m((5L, 6L)) == ((2L, 2L, 1L, 1L, 1.0)))
    assert(m((1L, 3L)) == ((2L, 3L, 1L, 2L, 0.5)))
    assert(m((2L, 3L)) == ((2L, 3L, 1L, 2L, 0.5)))
    assert(m((4L, 5L)) == ((3L, 2L, 1L, 2L, 0.5)))
    assert(m((4L, 6L)) == ((3L, 2L, 1L, 2L, 0.5)))
    assert(m((3L, 4L)) == ((3L, 3L, 0L, 4L, 0.0)), "bridge")
    // the union-0 guard: a lone pair edge emits 0.0, not NaN
    val lone = Dedup.edgeJaccard(Seq((7L, 8L)).toDF("da", "db"))
      .collect().head
    assert(lone.getLong(5) == 0L && lone.getDouble(6) == 0.0)

    // corpus: clique structure ⇒ size-c component edges carry
    // common = union = c−2 (J = 1.0 for c ≥ 3; the c = 2 pair edge
    // is the guarded 0/0 → 0.0)
    val sf = SparkTestSession.Sf0001
    val comp = Dedup.queries("d10_cc_corpus")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = comp.groupBy(_._2).map { case (l, ms) => l -> ms.size }
    val es = Dedup.queries("d26_edge_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5),
        r.getDouble(6)))
    assert(es.nonEmpty, "vacuous: no corpus edges")
    es.foreach { case (da, db, cn, un, j) =>
      val c = sizes(comp(da))
      assert(cn == c - 2L && un == c - 2L,
        s"edge ($da,$db) in size-$c clique: cn=$cn un=$un")
      assert(j == (if (c == 2) 0.0 else 1.0), s"edge ($da,$db) J=$j")
    }
  }

  test("D27 eccentricity: star and bounded-path semantics; corpus cliques are all-center") {
    import spark.implicits._
    // planted star 1–{2,3,4}: the center has ecc 1, leaves ecc 2 —
    // flags elect exactly one center and all leaves as periphery
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("da", "db")
    val verts = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val sm = Dedup.eccentricityBlocks(star, verts).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).toMap
    assert(sm(1L) == ((1L, 1L, 3L, true, false)), "center")
    Seq(2L, 3L, 4L).foreach(v =>
      assert(sm(v) == ((1L, 2L, 3L, false, true)), s"leaf $v"))

    // planted 6-path 1–2–…–6: true ecc 5/4/3 exceeds the depth
    // bound, so the kernel reports min(ecc, 3) and reach counts only
    // the ≤3 shells — the documented truncation semantics, pinned
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("da", "db")
    val pv = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pm = Dedup.eccentricityBlocks(path, pv).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(pm(1L) == ((3L, 3L)) && pm(6L) == ((3L, 3L)))
    assert(pm(2L) == ((3L, 4L)) && pm(5L) == ((3L, 4L)))
    assert(pm(3L) == ((3L, 5L)) && pm(4L) == ((3L, 5L)))

    // corpus: clique structure ⇒ every member has ecc 1, reach c−1,
    // and is simultaneously center and periphery (min = max = 1)
    val sf = SparkTestSession.Sf0001
    val comp = Dedup.queries("d10_cc_corpus")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = comp.groupBy(_._2).map { case (l, ms) => l -> ms.size }
    val got = Dedup.queries("d27_eccentricity")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))
    assert(got.nonEmpty, "vacuous: no corpus graph members")
    got.foreach { case (id, cp, ecc, reach, ctr, per) =>
      assert(cp == comp(id), s"doc $id component")
      val c = sizes(comp(id))
      assert(ecc == 1L && reach == c - 1L && ctr && per,
        s"doc $id in size-$c clique: ecc=$ecc reach=$reach")
    }
  }

  test("triangle counts equal the naive closed-wedge count on random graphs") {
    // property: for ANY edge set - including degree ties, where the
    // (degree, id) orientation tiebreak is the part a real-data
    // anchor may never exercise - the degree-ordered kernel must
    // equal a sequential adjacency-set recomputation. 12 seeded
    // random graphs across densities; splitmix64, no wall-clock
    // randomness.
    import spark.implicits._
    def sm(x: Long): Long = graft.SparkTestSession.splitmix64(x)
    for (trial <- 1 to 12) {
      val nV = 6 + (math.abs(sm(trial * 3011L)) % 20).toInt
      val nE = (math.abs(sm(trial * 4021L)) % (3 * nV)).toInt
      val edges = (0 until nE).map { i =>
        val a = math.abs(sm(trial * 90001L + i * 2)) % nV
        val b = math.abs(sm(trial * 90001L + i * 2 + 1)) % nV
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        val want = collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        for ((a, b) <- edges; c <- adj(a) if c > b && adj(b).contains(c)) {
          want(a) += 1; want(b) += 1; want(c) += 1
        }
        val got = Dedup.triangleCounts(edges.toDF("da", "db"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want.toMap,
          s"trial $trial (nV=$nV, edges=$edges): $got vs $want")
      }
    }
  }

  test("label propagation equals the sequential synchronous update on random graphs") {
    // property companion to the real-data D14 anchors: the
    // distributed join/agg/window formulation must reproduce the
    // sequential self-vote/min-tie update bit-for-bit on ANY graph,
    // including vote ties and isolated vertices
    import spark.implicits._
    def sm(x: Long): Long = graft.SparkTestSession.splitmix64(x)
    for (trial <- 1 to 8) {
      val nV = 5 + (math.abs(sm(trial * 5003L)) % 16).toInt
      val nE = (math.abs(sm(trial * 6007L)) % (2 * nV)).toInt
      val edges = (0 until nE).map { i =>
        val a = math.abs(sm(trial * 110001L + i * 2)) % nV
        val b = math.abs(sm(trial * 110001L + i * 2 + 1)) % nV
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val verts = (0 until nV).map(_.toLong)
        val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
        var label = verts.map(v => v -> v).toMap
        for (_ <- 1 to 4) {
          label = verts.map { v =>
            val votes = (v +: adj.getOrElse(v, Seq.empty))
              .map(label).groupBy(identity)
              .map { case (l, o) => l -> o.size }
            v -> votes.toSeq.minBy { case (l, n) => (-n, l) }._1
          }.toMap
        }
        val got = Dedup.labelPropagation(edges.toDF("da", "db"),
            verts.toDF("doc_id"), iters = 4)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == label,
          s"trial $trial (nV=$nV, edges=$edges): $got vs $label")
      }
    }
  }

  test("PageRank equals the sequential power iteration on random graphs") {
    // completes the kernel property family (CC, triangles, LPA, PR):
    // damped power iteration with undistributed dangling mass must
    // match the sequential recomputation within float noise on ANY
    // graph, isolated vertices pinned to the teleport floor
    import spark.implicits._
    def sm(x: Long): Long = graft.SparkTestSession.splitmix64(x)
    for (trial <- 1 to 6) {
      val nV = 5 + (math.abs(sm(trial * 7013L)) % 14).toInt
      val nE = (math.abs(sm(trial * 8017L)) % (2 * nV)).toInt
      val edges = (0 until nE).map { i =>
        val a = math.abs(sm(trial * 130001L + i * 2)) % nV
        val b = math.abs(sm(trial * 130001L + i * 2 + 1)) % nV
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val verts = (0 until nV).map(_.toLong)
        val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
        val damp = 0.85; val teleport = (1.0 - damp) / nV
        var rank = verts.map(_ -> 1.0 / nV).toMap
        for (_ <- 1 to 6) {
          val contrib = collection.mutable.Map.empty[Long, Double]
            .withDefaultValue(0.0)
          adj.foreach { case (src, dsts) =>
            val share = rank(src) / dsts.length
            dsts.foreach(dst => contrib(dst) += share)
          }
          rank = verts.map(v => v -> (teleport + damp * contrib(v))).toMap
        }
        val got = Dedup.pageRank(edges.toDF("da", "db"),
            verts.toDF("doc_id"), iters = 6, damp = damp)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got.keySet == rank.keySet)
        rank.foreach { case (v, r) =>
          assert(math.abs(got(v) - r) <= 1e-9,
            s"trial $trial node $v: seq=$r got=${got(v)}")
        }
      }
    }
  }

  test("simhash: identical docs share the signature, disjoint differ") {
    val d = docs(1L -> wordsA, 2L -> wordsA, 3L -> wordsB)
    val sh = Dedup.queries("d4_simhash")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh(1L).length == 64 && sh(1L).forall(c => c == '0' || c == '1'))
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
    // near-dup text flips few bits: hamming(half-overlap) < hamming(disjoint)
    val d2 = docs(1L -> wordsA, 2L -> wordsC, 3L -> wordsB)
    val sh2 = Dedup.queries("d4_simhash")(spark, d2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sh2(1L), sh2(2L)) < ham(sh2(1L), sh2(3L)))
  }

  test("d18: prefix-filtered join == brute force; the prefix prunes postings") {
    // the DuckDB oracle already proves no-false-negatives vs the
    // exhaustive INDEX join; this sweep proves it against the raw
    // definition (all pairs, set Jaccard), and measures the pruning
    val sf = SparkTestSession.Sf0001
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 1000)
      .select(col("doc_id"), lower(trim(col("text")))).collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSeq)
      .filter(_._2.size >= 3)
      .map { case (id, t) =>
        id -> t.sliding(3).map(_.mkString(" ")).toSet }
    val brute = (for {
      (da, ta) <- docs; (db, tb) <- docs if da < db
      i = (ta & tb).size if 7L * i >= 2L * (ta.size + tb.size)
    } yield (da, db, i.toLong, ta.size.toLong, tb.size.toLong)).toSet
    val got = TextAnalysis.queries("d18_prefix_jaccard")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == brute, s"prefix join ${got.size} vs brute ${brute.size}")
    assert(got.nonEmpty)
    // pruning: the CANDIDATE PAIR volume (what verification pays for)
    // must shrink strictly under the prefix index vs the full index
    val df = docs.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size).toMap
    def candPairs(post: Seq[(Long, Set[String])]): Int =
      post.flatMap { case (id, ts) => ts.map(_ -> id) }
        .groupBy(_._1).values
        .flatMap(g => for (a <- g; b <- g if a._2 < b._2)
          yield (a._2, b._2))
        .toSet.size
    val fullCand = candPairs(docs.toSeq)
    val prefCand = candPairs(docs.toSeq.map { case (id, ts) =>
      val n = ts.size
      id -> ts.toSeq.sortBy(w => (df(w), w))
        .take(n - (2 * n + 4) / 5 + 1).toSet })
    assert(prefCand < fullCand,
      s"prefix candidates $prefCand !< full $fullCand")
    assert(brute.size <= prefCand,
      "sanity: candidates must cover the qualifying pairs")
  }

  test("d20: every cluster keeps exactly its longest copy") {
    val sf = SparkTestSession.Sf0001
    val rows = Dedup.queries("d20_keep_best")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // membership and cluster ids anchor to the oracle-checked d10
    val d10 = Dedup.queries("d10_dup_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == d10)
    var multi = 0
    rows.groupBy(_._2).foreach { case (c, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1, s"cluster $c keeps ${kept.length}")
      // the keeper is the longest; ties go to the lowest doc_id
      val best = members.minBy(m => (-m._3, m._1))
      assert(kept.head._1 == best._1, s"cluster $c kept ${kept.head._1}")
      if (members.length > 1) multi += 1
    }
    assert(multi > 0, "vacuous: no multi-member cluster in the slice")
  }

  test("d28 source-overlap cells partition the verified edge set") {
    val sf = graft.SparkTestSession.Sf0001
    // the verified pair set via the oracle-checked d25 surface, and
    // the doc→source map — the cells must be exactly their rollup
    val pairs = Dedup.queries("d25_edge_strength")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val src = graft.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = pairs.groupBy { case (a, b) =>
      val (x, y) = (src(a), src(b))
      (if (x <= y) x else y, if (x <= y) y else x)
    }.map { case (k, v) => k -> v.size.toLong }
    val got = Dedup.queries("d28_source_overlap")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(3), r.getDouble(4))).toMap
    assert(got.keySet == exp.keySet, "cell coverage")
    val total = pairs.length.toLong
    exp.foreach { case (k, n) =>
      val (gn, cross, share) = got(k)
      assert(gn == n, s"cell $k count")
      assert(cross == (k._1 != k._2), s"cell $k verdict")
      assert(share == n.toDouble / total.toDouble, s"cell $k share")
    }
    assert(got.values.map(_._1).sum == total,
      "cells must partition the verified edge set")
    assert(got.values.exists(_._2) && got.values.exists(!_._2),
      "need both cross-source and self-duplication cells")
  }

  test("d29 simhash clusters agree with a sequential union-find over d8's pairs") {
    val sf = SparkTestSession.Sf0001
    val pairs = Dedup.queries("d8_simhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = Dedup.queries("d29_simhash_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sequential union-find with min-id canonical election
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb)
        parent(math.max(ra, rb)) = lo; parent(ra) = lo; parent(rb) = lo }
    }
    got.foreach { case (id, canon) =>
      assert(canon == find(id), s"doc $id: got $canon want ${find(id)}")
    }
    // every doc is a vertex; paired docs must form >= 1 real cluster
    assert(got.keySet.size > pairs.length,
      "vertex set must cover the whole corpus, not just paired docs")
    assert(pairs.nonEmpty && pairs.forall { case (a, b) =>
      got(a) == got(b) }, "pair endpoints must share a cluster")
  }
}
