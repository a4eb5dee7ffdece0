package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Recall and sanity checks for the ANN path: SIM2 (LSH-bucketed)
  * against SIM1 (brute force, exact) on sf0.001 — the trade the LSH
  * variant makes is candidates for recall, and the recall actually
  * achieved is what this spec pins.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  private def pairs(q: String): Set[(Long, Long)] =
    Similarity.queries(q)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet

  test("sim7: norm-augmented cosine ranking equals the MIPS ranking") {
    // the Bachrach et al. reduction, computed NUMERICALLY: append
    // sqrt(M²−‖c‖²) to candidates (M = max norm) and 0 to queries —
    // every augmented candidate has norm M, so the augmented-cosine
    // order must reproduce the raw-dot order the query ships. This
    // is what licenses running MIPS through the cosine-ANN machinery.
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val m = math.sqrt(vecs.values.map(v => v.map(x => x * x).sum).max)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val got = Similarity.queries("sim7_mips_topk")(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    assert(got.nonEmpty)
    got.foreach { case (q, wantIds) =>
      val qv = vecs(q)
      val ranked = vecs.toSeq.filter(_._1 != q).map { case (c, cv) =>
        val aug = math.sqrt(m * m - cv.map(x => x * x).sum)
        val cos = dot(qv :+ 0.0, cv :+ aug) /
          (math.sqrt(dot(qv, qv)) * m)
        (c, cos)
      }.sortBy { case (c, cos) => (-cos, c) }.take(5).map(_._1)
      assert(ranked == wantIds,
        s"q=$q: augmented-cosine $ranked vs MIPS $wantIds")
    }
  }

  test("LSH ANN recall vs brute force ≥ 0.6 on sf0.001") {
    val exact = pairs("sim1_cosine_topk")
    val approx = pairs("sim2_lsh_ann")
    assert(exact.nonEmpty)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"recall = $recall%.3f (|exact|=${exact.size}, |lsh|=${approx.size})")
    assert(recall >= 0.6, f"recall $recall%.3f below 0.6")
  }

  test("IVF ANN (nprobe=2) recall vs brute force ≥ 0.3 on sf0.001") {
    // 2 of 16 probed lists cover 1/8 of the corpus; on near-random
    // synthetic embeddings (true top-5 cosines only 0.26–0.39) that
    // bounds recall well below the LSH path — assert the measured
    // floor and that probing beats the random-subset baseline (0.125).
    val exact = pairs("sim1_cosine_topk")
    val approx = pairs("sim3_ivf_ann")
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"ivf recall = $recall%.3f (|ivf|=${approx.size})")
    assert(recall >= 0.3, f"recall $recall%.3f below 0.3")
  }

  test("IVF-PQ results are IVF-routed and recall tracks the IVF path") {
    // sim22 composes sim3's routing with sim6's ADC scan: every
    // result must come from the query's probed lists (containment in
    // sim3's candidate universe... sim3 returns top-5 of that
    // universe, so assert against the candidate relation instead),
    // and because the ADC shortlist (100) usually covers the ~1/8
    // candidate slice, recall should track sim3's within a small gap
    val exact = pairs("sim1_cosine_topk")
    val ivf = pairs("sim3_ivf_ann")
    val ivfpq = pairs("sim22_ivfpq_topk")
    assert(ivfpq.nonEmpty)
    val recall = exact.intersect(ivfpq).size.toDouble / exact.size
    val recallIvf = exact.intersect(ivf).size.toDouble / exact.size
    info(f"ivfpq recall = $recall%.3f vs ivf $recallIvf%.3f")
    assert(recall >= 0.25, f"recall $recall%.3f below 0.25")
    assert(recall >= recallIvf - 0.15,
      f"ADC shortlist lost too much vs the IVF exact path")
  }

  test("JL shortlist + exact re-rank recall vs brute force on sf0.001") {
    // the projected cosine alone reshuffles the weakly separated
    // neighbors (measured top-5 recall 0.16 at 16-d on these
    // near-random embeddings) — which is why SIM5b is the two-stage
    // shape: the 16-d scan only SHORTLISTS 100 candidates, the exact
    // 64-d cosine decides. The spec pins what the shortlist recovers
    // (0.72 measured — these weak neighbor gaps need ε far below what
    // 16 dims can carry, so the shortlist, not the projection, does
    // the recall work).
    val exact = pairs("sim1_cosine_topk")
    val approx = pairs("sim5_jl_topk")
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"jl recall = $recall%.3f (|jl|=${approx.size})")
    assert(recall >= 0.5, f"recall $recall%.3f below 0.5")
  }

  test("MRL-prefix shortlist + exact re-rank recall vs brute force") {
    // sim8 truncates to the FIRST 16 dims instead of projecting;
    // these synthetic embeddings are not MRL-trained, so the prefix
    // carries no privileged signal — the measured shortlist recall
    // documents what the two-stage shape recovers anyway (the exact
    // re-rank decides; deterministic, not flaky).
    val exact = pairs("sim1_cosine_topk")
    val approx = pairs("sim8_mrl_topk")
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"mrl recall = $recall%.3f (|mrl|=${approx.size})")
    assert(recall >= 0.5, f"recall $recall%.3f below 0.5")
  }

  test("PQ shortlist + exact re-rank recall vs brute force, both SFs") {
    // sim6's final top-5 recall EQUALS its ADC shortlist-100 recall
    // (the exact re-rank recovers anything the shortlist kept) —
    // measured 0.98 at sf0.001, 0.76 at sf0.1 with the 16×4 geometry
    // (floors just below; everything is deterministic, not flaky)
    val exact = pairs("sim1_cosine_topk")
    val pq = pairs("sim6_pq_topk")
    assert(exact.nonEmpty)
    val recall = exact.intersect(pq).size.toDouble / exact.size
    info(f"pq recall = $recall%.3f (|pq|=${pq.size})")
    assert(recall >= 0.9, f"pq recall $recall%.3f below 0.9")
    val big = "/root/testdata/sf0.1"
    def pairsAt(q: String): Set[(Long, Long)] =
      Similarity.queries(q)(spark, big).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exactBig = pairsAt("sim1_cosine_topk")
    val pqBig = pairsAt("sim6_pq_topk")
    val recallBig = exactBig.intersect(pqBig).size.toDouble / exactBig.size
    info(f"sf0.1 pq recall = $recallBig%.3f")
    assert(recallBig >= 0.7, f"sf0.1 pq recall $recallBig%.3f below 0.7")
  }

  test("ANN recall at sf0.1, where true neighbors are denser") {
    // sf0.001's true top-5 cosines are weak (0.26–0.39 on near-random
    // synthetic embeddings), which caps what any bucketing can find;
    // sf0.1 has 100× the vectors, so the true neighbor sets are
    // denser and recall there is the number that matters for the
    // scale path. Both measurements are pinned: sf0.001 above, sf0.1
    // here (hash families are seeded → deterministic, not flaky).
    val big = "/root/testdata/sf0.1"
    def pairsAt(q: String): Set[(Long, Long)] =
      Similarity.queries(q)(spark, big).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairsAt("sim1_cosine_topk")
    assert(exact.nonEmpty)
    val lsh = pairsAt("sim2_lsh_ann")
    val ivf = pairsAt("sim3_ivf_ann")
    val lshRecall = exact.intersect(lsh).size.toDouble / exact.size
    val ivfRecall = exact.intersect(ivf).size.toDouble / exact.size
    info(f"sf0.1: lsh recall = $lshRecall%.3f, ivf recall = $ivfRecall%.3f")
    // measured on this corpus: lsh 0.800, ivf 0.340 (floors just below)
    assert(lshRecall >= 0.75, f"sf0.1 lsh recall $lshRecall%.3f below 0.75")
    assert(ivfRecall >= 0.3, f"sf0.1 ivf recall $ivfRecall%.3f below 0.3")
  }

  test("int8-quantized top-k recall vs the float exact top-k") {
    // SQ8 keeps the DIRECTION of each vector to ~1/254 per-component
    // resolution, so quantized cosine ranking should agree with the
    // float ranking almost everywhere — this is a much tighter bound
    // than the bucketing paths (which drop candidates), and the gap
    // that remains is pure quantization noise at the rank-5 boundary.
    val exact = pairs("sim1_cosine_topk")
    val quant = pairs("sim4_quant_topk")
    assert(exact.nonEmpty)
    val recall = exact.intersect(quant).size.toDouble / exact.size
    info(f"sq8 recall = $recall%.3f (|exact|=${exact.size})")
    assert(recall >= 0.9, f"sq8 recall $recall%.3f below 0.9")
  }

  test("quantized codes are int8-bounded and hit ±127 at the max dim") {
    val rows = Similarity.queries("sim4_quantize_int8")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, q) => q >= -127 && q <= 127 })
    // symmetric quantization maps the largest-|x| component of every
    // vector to exactly ±127 — that's what "scale = 127/max|x|" means
    rows.groupBy(_._1).foreach { case (v, qs) =>
      assert(qs.map { case (_, q) => math.abs(q) }.max == 127,
        s"vec $v never reaches ±127")
    }
  }

  test("D9 banded near-dup pairs anchor to the exact D5 slice") {
    // precision: every banded pair inside the vec_id<200 slice must
    // appear in the oracle-checked exact all-pairs baseline with the
    // identical cosine (the verify stage recomputes the true cosine,
    // so a surfaced pair can never carry a wrong value). recall: the
    // 6-band OR should find most of the τ=0.35 pairs (analytic ≈0.78
    // at the threshold, higher above it); assert the measured floor.
    val exact = Similarity.queries("d5_embedding_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val banded = Similarity.queries("d9_embedding_neardup_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (va, vb, _) => va < 200 && vb < 200 }
    assert(exact.nonEmpty, "vacuous: no exact near-dup pair at sf0.001")
    banded.foreach { case (va, vb, c) =>
      assert(exact.contains((va, vb)),
        s"banded pair ($va,$vb) not in the exact baseline")
      assert(exact((va, vb)) == c,
        s"($va,$vb): exact=${exact((va, vb))} vs banded=$c")
    }
    val recall = banded.size.toDouble / exact.size
    info(f"d9 recall on the d5 slice = $recall%.3f (|exact|=${exact.size})")
    // measured 0.860 (seeded hashes — fixed, not a flake); floor just below
    assert(recall >= 0.8, f"banded recall $recall%.3f below 0.8")
  }

  test("IVF index rebuild after invalidate reproduces the same answer") {
    // The memoized quantizer + inverted lists must be a pure function
    // of the (immutable) data under the dir: dropping the cache and
    // rebuilding has to yield bit-identical probe results, otherwise
    // the memoization would change answers across a session.
    val before = Similarity.queries("sim3_ivf_ann")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    Similarity.ivf.invalidate(spark, sf)
    val after = Similarity.queries("sim3_ivf_ann")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(before.nonEmpty)
    assert(before.toSeq == after.toSeq)
  }

  test("cosines are valid and ranked descending per query") {
    val rows = Similarity.queries("sim1_cosine_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, c) => c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9 })
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._2).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"query $q not ranked descending")
    }
  }

  test("LSH cosines agree with brute force on shared pairs") {
    val exact = Similarity.queries("sim1_cosine_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val approx = Similarity.queries("sim2_lsh_ann")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val shared = exact.keySet.intersect(approx.keySet)
    assert(shared.nonEmpty)
    shared.foreach { k => assert(exact(k) == approx(k), s"cosine differs at $k") }
  }
  test("dup-grade LSH edges: precision exact, recall measured against the exhaustive graph") {
    // D16's input graph quality, pinned: every dup-grade LSH edge
    // must appear in the EXHAUSTIVE cosine >= tau pair set with the
    // identical cosine (precision is exact by construction - the
    // verify stage recomputes the true cosine), and the seeded
    // hyperplanes make observed recall a fixed quantity, asserted
    // against a floor below the analytic 1-(1-p^3)^6 ~ 0.85 at the
    // tau = 0.45 boundary (higher-cosine edges recall better).
    // Measured: 5/7 = 0.71 at sf0.001 - the boundary-cosine edge set
    // where per-edge recall is weakest; the floor pins it.
    import org.apache.spark.sql.functions.{col, sqrt}
    val tau = Similarity.EmbDupTau
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm",
        sqrt(graft.functions.DotProduct.dot(col("embedding"), col("embedding"))))
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val exact = a.crossJoin(b).filter(col("va") < col("vb"))
      .withColumn("cosine", org.apache.spark.sql.functions.round(
        graft.functions.DotProduct.dot(col("ea"), col("eb")) /
          (col("na") * col("nb")), 6))
      .filter(col("cosine") >= tau)
      .select(col("va"), col("vb"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(exact.nonEmpty, "vacuous: no exhaustive dup-grade pair")
    val lsh = Similarity.queries("d9_embedding_neardup_lsh")(spark, sf)
      .collect().filter(_.getDouble(2) >= tau)
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { case (p, c) =>
      assert(exact.get(p).contains(c),
        s"LSH pair $p (cosine $c) not in the exhaustive graph")
    }
    val recall = lsh.size.toDouble / exact.size
    info(f"dup-grade recall = ${lsh.size}/${exact.size} = $recall%.2f")
    assert(recall >= 0.7, f"recall $recall%.2f below floor 0.7")
  }

  test("D16 embedding clusters equal a sequential union-find over the D9 edges") {
    // the cluster stage must add NOTHING beyond transitive closure of
    // the (deterministic, D5-anchored) D9 pair graph at the
    // duplicate-grade cut: exact integer label equality against a
    // sequential min-canonical union-find, every embedding a vertex,
    // singletons included
    import org.apache.spark.sql.functions.col
    val edges = Similarity.queries("d9_embedding_neardup_lsh")(spark, sf)
      .collect().filter(_.getDouble(2) >= Similarity.EmbDupTau)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "vacuous: no dup-grade D9 edges at sf0.001")
    val verts = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byRoot = verts.groupBy(find)
    val expected = verts.map(v => v -> byRoot(find(v)).min).toMap
    val got = Similarity.queries("d16_emb_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.exists { case (v, c) => v != c },
      "vacuous: no non-trivial embedding cluster")
  }

  test("sim11 feature stats match a sequential per-dimension recompute") {
    import org.apache.spark.sql.functions._
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    val dims = vecs.head.length
    def dsum12(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val got = Similarity.queries("sim11_feature_stats")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
         r.getDouble(5))).toMap
    assert(got.size == dims)
    (0 until dims).foreach { d =>
      val xs = vecs.map(_(d)).toSeq
      val (n, meanQ, stdQ, minQ, maxQ) = got(d.toLong)
      assert(n == xs.length && minQ == xs.min && maxQ == xs.max)
      val s1 = dsum12(xs); val s2 = dsum12(xs.map(x => x * x))
      val mean = math.rint(s1 / n * 1e6) / 1e6
      val std = math.rint(
        math.sqrt((s2 - s1 * s1 / n) / (n - 1)) * 1e6) / 1e6
      assert(meanQ == mean && stdQ == std, s"dim $d: $meanQ/$stdQ")
    }
  }

  test("sim12: range search is complete and exact vs a brute-force sweep") {
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val got = Similarity.queries("sim12_range_search")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val expect = (for {
      (q, qv) <- vecs.toSeq; if q < 50
      (c, cv) <- vecs.toSeq; if c != q
      cos = dot(qv, cv) /
        (math.sqrt(dot(qv, qv)) * math.sqrt(dot(cv, cv)))
      if cos >= 0.25
    } yield (q, c, math.rint(cos * 1e6) / 1e6)).toSet
    assert(got.toSet == expect,
      s"got ${got.size} vs expect ${expect.size}")
    // variable cardinality is the point: not every query has the same
    // number of in-radius neighbors (top-k would pad or truncate)
    val sizes = got.groupBy(_._1).map(_._2.length).toSet
    assert(sizes.size > 1, s"degenerate cardinalities: $sizes")
  }

  test("sim13 recall eval is the exact-vs-quantized top-5 overlap") {
    val exact = Similarity.queries("sim1_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val quant = Similarity.queries("sim4_quant_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val got = Similarity.queries("sim13_recall_eval")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == exact.keySet, "one eval row per exact query id")
    exact.foreach { case (q, es) =>
      assert(es.size == 5, s"q$q exact top-5 malformed")
      val n = es.intersect(quant.getOrElse(q, Set.empty)).size.toLong
      assert(got(q) == ((n, n / 5.0)), s"q$q recall")
    }
    // SQ8 at dim 64 preserves ranking well — the recall this query
    // exists to certify; mean floor mirrors the sim4 spec's claim
    val mean = got.values.map(_._2).sum / got.size
    assert(mean >= 0.8, s"mean recall@5 $mean below the SQ8 floor")
  }

  test("sim14: MMR trajectory equals the sequential greedy; diversity engages") {
    // sequential recomputation of the exact greedy: top-20 by
    // (cosine desc, id), then 5 picks maximizing
    // 0.7·sim(q,d) − 0.3·max_{s∈S} sim(d,s) with the same tiebreak —
    // must match the distributed 5-round plan bit-for-bit
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dotd(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Long, b: Long): Double =
      dotd(emb(a), emb(b)) /
        (math.sqrt(dotd(emb(a), emb(a))) * math.sqrt(dotd(emb(b), emb(b))))
    val got = Similarity.queries("sim14_mmr_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got.nonEmpty)
    var divergedFromTopK = false
    (0L until 3L).foreach { qid =>
      val cands = emb.keys.filter(_ != qid).toSeq
        .map(c => c -> cos(qid, c))
        .sortBy { case (c, s) => (-s, c) }.take(20)
      var sel = Vector.empty[Long]
      for (step <- 1 to 5) {
        val scored = cands.filterNot(c => sel.contains(c._1)).map {
          case (c, simq) =>
            val pen = if (sel.isEmpty) 0.0
                      else sel.map(s => cos(c, s)).max
            (c, 0.7 * simq - 0.3 * pen, simq)
        }
        val (pc, ps, psim) = scored.minBy { case (c, s, _) => (-s, c) }
        assert(got((qid, step.toLong)) == ((pc, ps, psim)),
          s"q$qid step $step: got=${got((qid, step.toLong))} " +
            s"exp=($pc, $ps, $psim)")
        if (pc != cands(step - 1)._1) divergedFromTopK = true
        sel :+= pc
      }
    }
    // the penalty must actually change a pick somewhere, or the
    // fixture exercises nothing beyond top-5
    assert(divergedFromTopK, "vacuous: MMR picked the pure top-5 everywhere")
  }

  test("sim15: medoid equals the sequential quantized-centroid argmin") {
    import org.apache.spark.sql.functions.col
    val rows = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    val byLabel = rows.groupBy(_._2)
    val got = Similarity.queries("sim15_centroid_medoid")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got.keySet == byLabel.keySet)
    byLabel.foreach { case (lbl, ms) =>
      val dims = ms.head._3.length
      // quantized centroid: exact decimal sum → one render → /n → r6
      val cent = (0 until dims).map { i =>
        val s = ms.map(m => BigDecimal(m._3(i).toDouble)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        BigDecimal(s / ms.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toArray
      def fold(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
      val cc = fold(cent, cent)
      val scored = ms.map { case (id, _, e) =>
        val ed = e.map(_.toDouble)
        (id, fold(ed, ed) - 2.0 * fold(ed, cent) + cc)
      }
      val (mid, md) = scored.minBy { case (id, d2) => (d2, id) }
      assert(got(lbl) == ((ms.length.toLong, mid, md, cc)),
        s"label $lbl: got=${got(lbl)} exp=(${ms.length}, $mid, $md, $cc)")
      // the medoid is a REAL member and dominates every member's dist
      assert(scored.forall { case (id, d2) =>
        d2 > md || (d2 == md && id >= mid) })
    }
  }

  test("sim16: planted centroid cosines exact; corpus grid matches a sequential recompute") {
    import spark.implicits._
    // planted: label 0's centroid is (1,0) (two identical members),
    // label 1's (0,1), label 2's (3,4) — every cosine/dist2 is
    // hand-computable and exactly representable
    val emb = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(1.0f, 0.0f)),
      (3L, 1, Seq(0.0f, 1.0f)), (4L, 2, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "label", "embedding")
    val g = Similarity.centroidGrid(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(g.size == 3)
    assert(g((0L, 1L)) == ((0.0, 2.0)))
    assert(g((0L, 2L)) == ((0.6, 20.0)))
    assert(g((1L, 2L)) == ((0.8, 18.0)))

    // corpus: recompute the quantized centroids sequentially (the
    // sim15 discipline) and every pair's cosine/dist2 must match
    // EXACTLY — identical index-ordered folds on identical inputs
    import org.apache.spark.sql.functions.col
    val rows = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    val cents = rows.groupBy(_._2).map { case (lbl, ms) =>
      val dims = ms.head._3.length
      lbl -> (0 until dims).map { i =>
        val s = ms.map(m => BigDecimal(m._3(i).toDouble)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        BigDecimal(s / ms.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toArray
    }
    def fold(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val got = Similarity.queries("sim16_centroid_grid")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val labels = cents.keys.toSeq.sorted
    assert(got.size == labels.size * (labels.size - 1) / 2,
      "grid must cover every label pair exactly once")
    for (a <- labels; b <- labels if a < b) {
      val (ca, cb) = (cents(a), cents(b))
      val ab = fold(ca, cb)
      val exp = (ab / (math.sqrt(fold(ca, ca)) * math.sqrt(fold(cb, cb))),
        fold(ca, ca) - 2.0 * fold(ca, cb) + fold(cb, cb))
      assert(got((a, b)) == exp, s"pair ($a,$b)")
    }
  }

  test("sim17: Davies–Bouldin terms match a sequential recompute; DB index sane") {
    import org.apache.spark.sql.functions.col
    def r6v(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    val cents = rows.groupBy(_._2).map { case (lbl, ms) =>
      val dims = ms.head._3.length
      lbl -> (0 until dims).map { i =>
        val s = ms.map(m => BigDecimal(m._3(i).toDouble)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        BigDecimal(s / ms.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toArray
    }
    def fold(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val scat = rows.groupBy(_._2).map { case (lbl, ms) =>
      val c = cents(lbl)
      val ds = ms.map { m =>
        val e = m._3.map(_.toDouble)
        r6v(math.sqrt(fold(e, e) - 2.0 * fold(e, c) + fold(c, c)))
      }
      val mean = ds.map(BigDecimal(_)
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble /
        ms.length
      lbl -> (ms.length.toLong, r6v(mean))
    }
    val labels = cents.keys.toSeq.sorted
    // canonical (smaller, larger) orientation, like the operator
    val dij = (for (a <- labels; b <- labels if a < b) yield {
      val d2 = fold(cents(a), cents(a)) -
        2.0 * fold(cents(a), cents(b)) + fold(cents(b), cents(b))
      (a, b) -> r6v(math.sqrt(d2))
    }).toMap
    def dist(a: Long, b: Long) = if (a < b) dij((a, b)) else dij((b, a))
    val got = Similarity.queries("sim17_davies_bouldin")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got.size == labels.size, "every label must emit a DB term")
    labels.foreach { li =>
      val cands = labels
        .filter(lj => lj != li && dist(li, lj) > 0)
        .map(lj => ((scat(li)._2 + scat(lj)._2) / dist(li, lj), lj))
        .sortBy(c => (-c._1, c._2))
      val (rij, lj) = cands.head
      val (nm, sc, wo, db) = got(li)
      assert(nm == scat(li)._1, s"label $li n_members")
      assert(math.abs(sc - scat(li)._2) <= 1e-6, s"label $li scatter")
      assert(wo == lj, s"label $li worst_other")
      assert(math.abs(db - r6v(rij)) <= 1e-6, s"label $li db_term")
    }
    // the DB index (the spec-side fold, per the operator contract):
    // mean of per-label worst ratios — finite and nonnegative
    val dbIdx = got.values.map(_._4).sum / got.size
    assert(dbIdx >= 0.0 && !dbIdx.isNaN && !dbIdx.isInfinite)
    assert(got.values.exists(_._4 > 0), "vacuous: all DB terms zero")
  }

  test("sim18: silhouette terms match a sequential recompute; bounds hold") {
    import org.apache.spark.sql.functions.col
    def r6v(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    val cents = rows.groupBy(_._2).map { case (lbl, ms) =>
      val dims = ms.head._3.length
      lbl -> (0 until dims).map { i =>
        val s = ms.map(m => BigDecimal(m._3(i).toDouble)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        BigDecimal(s / ms.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toArray
    }
    def fold(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val labels = cents.keys.toSeq.sorted
    val perLabel = rows.groupBy(_._2).map { case (lbl, ms) =>
      val sils = ms.map { m =>
        val e = m._3.map(_.toDouble)
        def d(c: Array[Double]) =
          r6v(math.sqrt(fold(e, e) - 2.0 * fold(e, c) + fold(c, c)))
        val a = d(cents(lbl))
        val b = labels.filter(_ != lbl).map(l => d(cents(l))).min
        if (math.max(a, b) > 0) (b - a) / math.max(a, b) else 0.0
      }
      val mean = sils.map(s => BigDecimal(r6v(s))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble /
        ms.length
      lbl -> (ms.length.toLong, r6v(mean), sils.count(_ < 0).toLong)
    }
    val got = Similarity.queries("sim18_silhouette")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(got.size == labels.size, "every label must emit a silhouette")
    labels.foreach { lbl =>
      val (nm, ms, misfit) = perLabel(lbl)
      val (gn, gm, gmis) = got(lbl)
      assert(gn == nm, s"label $lbl n_members")
      assert(math.abs(gm - ms) <= 1e-6, s"label $lbl mean_sil")
      assert(gmis == misfit, s"label $lbl n_misfit")
      assert(gm >= -1.0 && gm <= 1.0, s"label $lbl silhouette bound")
    }
    // near-random synthetic embeddings: SOME members must sit closer
    // to a foreign centroid, or the misfit column is vacuous
    assert(got.values.map(_._3).sum > 0, "vacuous: zero misfits corpus-wide")
  }

  test("sim19: centroid drift matches a sequential per-half recompute") {
    import org.apache.spark.sql.functions.col
    def r6v(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    def cents(sub: Array[(Long, Long, Array[Float])]) =
      sub.groupBy(_._2).map { case (lbl, ms) =>
        val dims = ms.head._3.length
        val cent = (0 until dims).map { i =>
          val sm = ms.map(m => BigDecimal(m._3(i).toDouble)
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
          BigDecimal(sm / ms.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.toArray
        (lbl, (cent, ms.length.toLong))
      }
    val even = cents(rows.filter(_._1 % 2 == 0))
    val odd = cents(rows.filter(_._1 % 2 == 1))
    def fold(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val got = Similarity.queries("sim19_centroid_drift")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val shared = even.keySet intersect odd.keySet
    assert(got.keySet == shared && got.nonEmpty)
    shared.foreach { lbl =>
      val (ca, na) = even(lbl); val (cb, nb) = odd(lbl)
      val drift = r6v(math.sqrt(
        fold(ca, ca) - 2.0 * fold(ca, cb) + fold(cb, cb)))
      val (gn, go, gd) = got(lbl)
      assert(gn == na && go == nb, s"label $lbl counts")
      assert(gd == drift, s"label $lbl drift")
      assert(gd >= 0, s"label $lbl nonneg")
    }
    // the halves are random splits of the same distribution: drift
    // must be small but NONZERO (a zero drift would mean the halves
    // share a centroid exactly — vacuous quantization)
    assert(got.values.exists(_._3 > 0), "vacuous: all drifts zero")
  }

  test("sim20 recall curve: recomputed from the two rankings, monotone in k") {
    val sf = graft.SparkTestSession.Sf0001
    val exact = Similarity.queries("sim1_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lsh = Similarity.queries("sim2_lsh_ann")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = Similarity.queries("sim20_recall_curve")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    for (q <- exact.map(_._1).distinct; k <- Seq(1L, 3L, 5L)) {
      val e = exact.filter(t => t._1 == q && t._2 <= k).map(_._3).toSet
      val l = lsh.filter(t => t._1 == q && t._2 <= k).map(_._3).toSet
      val want = e.intersect(l).size.toLong
      assert(got((q, k)) == ((want, want.toDouble / k)),
        s"q=$q k=$k: got ${got((q, k))} want $want")
    }
    // hits monotone in k; every recall in [0, 1]
    got.groupBy(_._1._1).foreach { case (q, m) =>
      val byK = m.map { case ((_, k), (h, _)) => k -> h }
      assert(byK(1L) <= byK(3L) && byK(3L) <= byK(5L), s"q=$q monotone")
    }
    assert(got.values.forall { case (_, r) => r >= 0.0 && r <= 1.0 })
    assert(got.values.exists(_._1 > 0), "vacuous: zero recall everywhere")
  }

  test("sim21: sign codes unpack to the embedding signs exactly") {
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val codes = Similarity.queries("sim21_binary_codes")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
    assert(codes.length == vecs.size)
    codes.foreach { case (id, (h1, h2)) =>
      val e = vecs(id)
      (0 until 32).foreach { i =>
        assert(((h1 >> i) & 1L) == (if (e(i) > 0) 1L else 0L),
          s"vec $id bit $i (h1)")
        assert(((h2 >> i) & 1L) == (if (e(i + 32) > 0) 1L else 0L),
          s"vec $id bit $i (h2)")
      }
    }
  }

  test("sim21: hamming ranks sign-bit disagreement; rerank lifts recall") {
    val exact = Similarity.queries("sim1_cosine_topk")(spark, sf)
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(2)).toSet }
    val raw = Similarity.queries("sim21_hamming_topk")(spark, sf)
      .collect()
    raw.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length == 5, s"query $q must return 5 rows")
      val hs = rows.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(hs.forall(h => h >= 0 && h <= 64))
      assert(hs.sliding(2).forall(p => p(0) <= p(1)),
        s"hamming must be non-decreasing in rank for $q")
    }
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.groupBy(_.getLong(0))
        .map { case (k, v) => k -> v.map(_.getLong(2)).toSet }
      val hits = exact.map { case (q, ex) =>
        (ex intersect got.getOrElse(q, Set.empty)).size }.sum
      hits.toDouble / exact.map(_._2.size).sum
    }
    val rawRecall = recall(raw)
    val rerank = Similarity.queries("sim21_rerank_topk")(spark, sf)
      .collect()
    val rerankRecall = recall(rerank)
    // measured on the shipped fixture: raw 0.16, rerank 0.86 — floors
    // leave regeneration margin, and the oversample-then-rerank lift
    // is the operator's whole argument
    assert(rawRecall >= 0.08, s"raw hamming recall $rawRecall")
    assert(rerankRecall >= 0.6, s"rerank recall $rerankRecall")
    assert(rerankRecall > rawRecall,
      s"rerank ($rerankRecall) must beat raw codes ($rawRecall)")
  }
}
