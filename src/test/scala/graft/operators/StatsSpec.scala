package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Cross-anchors between the p-value twins and their fully
  * oracle-checked main queries. Since round 14 every p column is
  * itself hash-checked too (PinnedSeries closed forms / PinnedBeta's
  * pinned incomplete-beta chain); these specs additionally tie each
  * twin's shared columns to its main query and its p to the
  * quadrature-validated kernels (StudentTSpec / PearsonPValueSpec).
  */
class StatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Round-14 closed-form p twins: the PinnedSeries chain must track
    * the quadrature-validated kernel to ~1e-9 everywhere except the
    * documented erfc cut, where BOTH are below the 6-dp grid. */
  private def assertSeriesP(p: Double, kernel: Double, ctx: String): Unit =
    if (kernel < 5e-7)
      assert(p >= 0.0 && p <= 5e-7, s"$ctx p=$p kernel=$kernel (cut)")
    else
      assert(math.abs(p - kernel) <= 1e-9, s"$ctx p=$p kernel=$kernel")
  private val sf = SparkTestSession.Sf0001

  test("w15: cum_growth is the literal running product of (1+ret)") {
    // the query computes exp(Σ ln(1+r)) — verify the REWRITE against a
    // direct sequential product, per event_type in day order
    val rows = graft.operators.Windows.queries("w15_cum_return")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.get(1).toString,
        r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (et, rs) =>
      var prod = 1.0
      rs.sortBy(_._2).foreach { case (_, day, ret, cum) =>
        prod *= (1.0 + ret)
        // tolerance: ret is the ROUNDED (1e-6) return, so the product
        // drifts up to ~n·5e-7 relative over n days vs the raw-ret sum
        assert(math.abs(cum - prod) < 5e-4,
          s"$et $day: cum=$cum vs product=$prod")
      }
    }
  }

  test("a33 KS statistic equals a sequential single-threaded recomputation") {
    // the query's bucketed two-level ECDF must land on exactly the D a
    // plain sorted sweep computes — the anchor that proves the
    // distributed decomposition introduces no drift
    import org.apache.spark.sql.functions._
    val row = Stats.queries("a33_ks_test")(spark, sf).head()
    val (n1, n2, ksD) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    val vals = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("value"), (col("event_type") === "click").as("g1"))
      .collect().map(r => (r.getDouble(0), r.getBoolean(1)))
    assert(vals.count(_._2).toLong == n1 &&
      vals.count(!_._2).toLong == n2)
    var c1 = 0L; var c2 = 0L; var d = 0.0
    vals.sortBy(_._1).groupBy(_._1).toSeq.sortBy(_._1).foreach {
      case (_, g) =>
        c1 += g.count(_._2); c2 += g.count(!_._2)
        d = math.max(d,
          math.abs(c1.toDouble / n1 - c2.toDouble / n2))
    }
    assert(d == ksD, s"sequential D=$d, query D=$ksD")
  }

  test("a35 Mann–Whitney on planted ties matches sequential midranks") {
    // sf values are continuous (ties vacuously absent), so the tie
    // correction needs a planted fixture: click [1,2,2,3] vs purchase
    // [2,3,3,5] — value 2 ties across groups, 3 within+across
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("mw-fix")
    val click = Seq(1.0, 2.0, 2.0, 3.0)
    val purch = Seq(2.0, 3.0, 3.0, 5.0)
    (click.map(("click", _)) ++ purch.map(("purchase", _)))
      .zipWithIndex
      .map { case ((t, v), i) => (i.toLong,
        new java.sql.Timestamp(i.toLong * 1000L), i.toLong, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val row = Stats.queries("a35_mannwhitney")(spark, d).head()
    val (r1q, u1q, zq) = (row.getDouble(2), row.getDouble(3),
      row.getDouble(4))
    // sequential midrank recomputation (the definition, single thread)
    val all = click.map((_, true)) ++ purch.map((_, false))
    val n1 = click.size; val n2 = purch.size; val n = n1 + n2
    var cbef = 0L; var r1 = 0.0; var ties = 0L
    all.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, g) =>
      val k = g.size; val k1 = g.count(_._2)
      r1 += k1 * (cbef + (k + 1) / 2.0)
      ties += k.toLong * k * k - k
      cbef += k
    }
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    val sigma = math.sqrt(n1.toDouble * n2 / 12.0 *
      ((n + 1) - ties.toDouble / (n.toDouble * (n - 1))))
    val z = (u1 - n1.toDouble * n2 / 2.0) / sigma
    assert(ties > 0, "vacuous: fixture has no ties")
    assert(r1q == r1 && u1q == u1, s"r1 $r1q vs $r1, u1 $u1q vs $u1")
    assert(math.abs(zq - z) <= 1e-12, s"z $zq vs $z")
    // p twin: the PinnedSeries erfc chain vs the kernel's χ²₁ identity
    val p = Stats.queries("a35_mw_pvalue")(spark, d).head().getDouble(3)
    assertSeriesP(p, graft.functions.StudentT.chiSqPValue(zq * zq, 1.0),
      "a35")
    assert(p >= 0.0 && p <= 1.0)
  }

  test("a55_mk_pvalue anchors to the oracle-checked a55 rows; MK matches sequential recompute") {
    import org.apache.spark.sql.functions._
    val base = Stats.queries("a55_mann_kendall")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val pv = Stats.queries("a55_mk_pvalue")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(base.nonEmpty && base.keySet == pv.keySet)
    base.foreach { case (k, b) =>
      // shared columns identical; p recomputed from the oracle-checked z
      (0 until 4).foreach(i => assert(b.get(i) == pv(k).get(i),
        s"$k column $i diverged"))
      val z = b.getDouble(3)
      val p = pv(k).getDouble(4)
      assertSeriesP(p, graft.functions.StudentT.chiSqPValue(z * z, 1.0),
        s"a55 $k")
      assert(p >= 0.0 && p <= 1.0, s"$k: p=$p")
    }
    // sequential recompute of S and z from the daily means — the
    // textbook definition, independent of the join formulation
    val dly = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(24,10)")).cast("double") /
        count(lit(1))).as("y"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    dly.groupBy(_._1).foreach { case (et, rows) =>
      val ys = rows.sortBy(_._2.getTime).map(_._3)
      val n = ys.length
      var sStat = 0L
      for (i <- ys.indices; j <- (i + 1) until n)
        sStat += math.signum(ys(j) - ys(i)).toLong
      val tieTerm = ys.groupBy(identity).values
        .map(g => g.length.toLong).filter(_ > 1)
        .map(t => t * (t - 1) * (2 * t + 5)).sum
      val varS = (n.toLong * (n - 1) * (2L * n + 5) - tieTerm) / 18.0
      val z =
        if (sStat > 0) (sStat - 1).toDouble / math.sqrt(varS)
        else if (sStat < 0) (sStat + 1).toDouble / math.sqrt(varS)
        else 0.0
      assert(base(et).getLong(2) == sStat, s"$et: S mismatch")
      assert(math.abs(base(et).getDouble(3) - z) <= 1e-6,
        s"$et: z ${base(et).getDouble(3)} vs $z")
    }
  }

  test("a28_welch_pvalue anchors to the oracle-checked a28 row") {
    val base = Stats.queries("a28_welch_ttest")(spark, sf).collect()
    val pv = Stats.queries("a28_welch_pvalue")(spark, sf).collect()
    assert(base.length == 1 && pv.length == 1)
    // every shared column identical (the p query builds ON the base)
    (0 until 6).foreach { i =>
      assert(base(0).get(i) == pv(0).get(i), s"column $i diverged")
    }
    // the one rows-only column: recompute from the golden-tested
    // kernel at the SAME rounded inputs the query used
    val t = pv(0).getDouble(4); val df = pv(0).getDouble(5)
    val want = math.rint(graft.functions.StudentT.tPValue(t, df) * 1e6) / 1e6
    val got = pv(0).getDouble(6)
    assert(math.abs(got - want) <= 1e-6, s"p=$got vs kernel=$want")
    assert(got > 0.0 && got <= 1.0)
  }

  test("a29_benford_pvalue anchors to the oracle-checked digit rows") {
    val rows = Stats.queries("a29_benford")(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).sortBy(_._1)
    assert(rows.length == 9)
    val pv = Stats.queries("a29_benford_pvalue")(spark, sf).head()
    // chi2 is the digit-ordered sum of a29's oracle-checked terms
    val chi2 = math.rint(rows.map(_._2).sum * 1e6) / 1e6
    assert(math.abs(pv.getDouble(0) - chi2) <= 1e-6,
      s"chi2 ${pv.getDouble(0)} vs recomputed $chi2")
    assert(pv.getLong(1) == 8L)
    // p recomputed from the quadrature-validated kernel at the same
    // rounded chi2
    val want = math.rint(
      graft.functions.StudentT.chiSqPValue(pv.getDouble(0), 8.0) * 1e6) / 1e6
    assert(math.abs(pv.getDouble(2) - want) <= 1e-6)
    // the synthetic totals are decidedly NON-Benford (that's the point
    // of a screen: chi2 is huge), so p legitimately rounds to 0.0
    assert(pv.getDouble(2) >= 0.0 && pv.getDouble(2) <= 1.0)
  }

  test("a41_chi2_pvalue anchors to the oracle-checked contingency cells") {
    val rows = Stats.queries("a41_chi2_independence")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(4))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    val nTypes = rows.map(_._1._1).distinct.length
    val nDows = rows.map(_._1._2).distinct.length
    assert(rows.length == nTypes * nDows, "margin grid incomplete")
    val pv = Stats.queries("a41_chi2_pvalue")(spark, sf).head()
    // chi2 is the cell-ordered fold of a41's oracle-checked terms
    val chi2 = math.rint(rows.map(_._2).sum * 1e6) / 1e6
    assert(math.abs(pv.getDouble(0) - chi2) <= 1e-6,
      s"chi2 ${pv.getDouble(0)} vs recomputed $chi2")
    val df = (nTypes - 1L) * (nDows - 1L)
    assert(pv.getLong(1) == df, s"df ${pv.getLong(1)} vs $df")
    val want = math.rint(graft.functions.StudentT.chiSqPValue(
      pv.getDouble(0), df.toDouble) * 1e6) / 1e6
    assert(math.abs(pv.getDouble(2) - want) <= 1e-6)
    assert(pv.getDouble(2) >= 0.0 && pv.getDouble(2) <= 1.0)
  }

  test("a47 recovers planted plane coefficients exactly") {
    // y = 2 + 3·x1 − 0.5·x2 with zero noise: the closed-form solve
    // must recover (b0, b1, b2) to rounding and r2 = 1 — this pins
    // the Cramer determinant formulas (a mirrored sign error in the
    // query AND oracle would pass the oracle check; it cannot pass
    // an exact plane recovery)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("ols-fix")
    val rows = for (i <- 0 until 48) yield {
      val x1 = (i % 7).toDouble; val x2 = (i % 24).toDouble
      val y = 2.0 + 3.0 * x1 - 0.5 * x2
      (i.toLong, new java.sql.Timestamp(i.toLong * 3600L * 1000L),
        i.toLong, "click", y, s"""{"k": $x1}""")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val r = Stats.queries("a47_ols_multiple")(spark, d).head()
    assert(r.getString(0) == "click" && r.getLong(1) == 48)
    assert(math.abs(r.getDouble(2) - 2.0) <= 1e-6, s"b0 ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - 3.0) <= 1e-6, s"b1 ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) + 0.5) <= 1e-6, s"b2 ${r.getDouble(4)}")
    assert(math.abs(r.getDouble(5) - 1.0) <= 1e-6, s"r2 ${r.getDouble(5)}")
  }

  test("a52_anova_pvalue anchors to the F row; kernel pinned by identities") {
    val row = Stats.queries("a52_anova")(spark, sf).head()
    val (k, n, f) = (row.getLong(0), row.getLong(1), row.getDouble(4))
    val pv = Stats.queries("a52_anova_pvalue")(spark, sf).head()
    assert(pv.getDouble(0) == f)
    assert(pv.getDouble(1) == (k - 1).toDouble)
    assert(pv.getDouble(2) == (n - k).toDouble)
    val want = math.rint(graft.functions.StudentT.fPValue(f,
      (k - 1).toDouble, (n - k).toDouble) * 1e6) / 1e6
    // the query's pinned chain differs from the early-exit kernel by
    // ≤ ~1e-14 raw (PinnedBetaSpec pins it), so the 6-dp values can
    // only diverge on a razor tie — one grid step is the bound
    assert(math.abs(pv.getDouble(3) - want) <= 1e-6,
      s"p=${pv.getDouble(3)} vs kernel=$want")
    // analytic identity: F(1, d) upper tail ≡ two-sided t at √f —
    // ties the new kernel to the quadrature-validated t kernel
    for (fv <- Seq(0.5, 1.0, 4.9646); d <- Seq(5.0, 10.0, 30.0)) {
      val lhs = graft.functions.StudentT.fPValue(fv, 1.0, d)
      val rhs = graft.functions.StudentT.tPValue(math.sqrt(fv), d)
      assert(math.abs(lhs - rhs) <= 1e-12, s"F(1,$d) at $fv: $lhs vs $rhs")
    }
    // published golden: F(0.95; 1, 10) = 4.9646 ⇒ upper tail ≈ 0.05
    assert(math.abs(graft.functions.StudentT.fPValue(4.9646, 1.0, 10.0)
      - 0.05) <= 2e-4)
  }

  test("a49 prefix-min form equals the textbook CUSUM recursion") {
    // planted mean shift: 15 days at 10.0 then 15 days at 20.0 (all
    // values exact in binary, so mu0 = 15 and sigma = 5 exactly);
    // the window form must equal g_t = max(0, g_{t-1} + dev_t)
    // computed sequentially, and the shift must actually flag
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("cusum-fix")
    val rows = (0 until 30).map { i =>
      val v = if (i < 15) 10.0 else 20.0
      (i.toLong, new java.sql.Timestamp(i.toLong * 86400000L),
        i.toLong, "click", v, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Stats.queries("a49_cusum_drift")(spark, d).collect()
      .map(r => (r.getDouble(3), r.getBoolean(4)))
    val mu0 = 15.0; val sigma = 5.0
    var g = 0.0
    val want = (0 until 30).map { i =>
      val v = if (i < 15) 10.0 else 20.0
      g = math.max(0.0, g + (v - mu0 - 0.1 * sigma))
      (math.rint(g * 1e6) / 1e6, g > 3.0 * sigma)
    }
    assert(got.length == 30)
    got.zip(want).zipWithIndex.foreach { case (((gq, fq), (gw, fw)), i) =>
      assert(math.abs(gq - gw) <= 1e-9, s"day $i: g $gq vs $gw")
      assert(fq == fw, s"day $i: drift $fq vs $fw")
    }
    assert(want.exists(_._2), "vacuous: planted shift never flags")
    assert(!want.take(15).exists(_._2), "false alarm before the shift")
  }

  test("a46 BH adjustment matches a sequential step-up recompute") {
    // a46 is rows-only (p from the custom kernel); the whole
    // rank → raw → suffix-min transform must equal the textbook
    // sequential algorithm over the same (a3-anchored) p-values
    val pv = Stats.queries("a3_corr_pvalue")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(4)))
    val m = pv.length
    val sorted = pv.sortBy(t => (t._3, t._1, t._2))
    val raw = sorted.zipWithIndex.map { case ((et, k, p), i) =>
      (et, k, i + 1L, p * m / (i + 1)) }
    var run = Double.MaxValue
    val adj = raw.reverse.map { case (et, k, r0, rw) =>
      run = math.min(run, rw)
      (et, k) -> (r0, math.min(1.0, run))
    }.toMap
    val got = Stats.queries("a46_bh_fdr")(spark, sf).collect()
    assert(got.length == m && m > 0)
    // Spark round() = HALF_UP on the shortest decimal repr (not
    // rint's half-even) — replicate it exactly for tie values
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    got.foreach { r =>
      val (r0, a) = adj((r.getString(0), r.getInt(1)))
      assert(r.getLong(3) == r0, s"rank ${r.getLong(3)} vs $r0")
      assert(r.getDouble(4) == r6(a), s"p_adj ${r.getDouble(4)} vs $a")
      assert(r.getBoolean(5) == (a <= 0.05))
    }
  }

  test("a63 Holm adjustment matches a sequential step-down recompute; Holm >= BH") {
    val pv = Stats.queries("a3_corr_pvalue")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(4)))
    val m = pv.length
    val sorted = pv.sortBy(t => (t._3, t._1, t._2))
    var run = 0.0
    val adj = sorted.zipWithIndex.map { case ((et, k, p), i) =>
      run = math.max(run, p * (m - i))
      (et, k) -> (i + 1L, math.min(1.0, run))
    }.toMap
    val got = Stats.queries("a63_holm")(spark, sf).collect()
    assert(got.length == m && m > 0)
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val bh = Stats.queries("a46_bh_fdr")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(4)).toMap
    got.foreach { r =>
      val key = (r.getString(0), r.getInt(1))
      val (r0, a) = adj(key)
      assert(r.getLong(3) == r0, s"$key rank ${r.getLong(3)} vs $r0")
      assert(r.getDouble(4) == r6(a), s"$key p_adj ${r.getDouble(4)} vs $a")
      assert(r.getBoolean(5) == (a <= 0.05))
      // FWER control is never more permissive than FDR control
      assert(r.getDouble(4) >= bh(key) - 1e-9,
        s"$key: Holm ${r.getDouble(4)} < BH ${bh(key)}")
    }
  }

  test("a3_corr_pvalue rows are oracle-verified grid cells") {
    val cells = Stats.queries("a3_corr_grid")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (Option(r.get(2)), r.getLong(3))).toMap
    val pv = Stats.queries("a3_corr_pvalue")(spark, sf).collect()
    assert(pv.nonEmpty && pv.length == cells.size,
      "same cell set on both sides")
    pv.foreach { r =>
      val key = (r.getString(0), r.getInt(1))
      assert(cells.contains(key), s"cell $key missing from the grid")
      val (cellR, cellN) = cells(key)
      assert(Option(r.get(2)) == cellR,
        s"$key: a3 r=${r.get(2)} vs grid r=$cellR")
      assert(r.getLong(3) == cellN, s"$key: n mismatch")
      // the one rows-only column: a valid probability wherever defined
      if (r.get(4) != null) {
        val p = r.getDouble(4)
        assert(p >= 0.0 && p <= 1.0, s"$key: p_value out of range: $p")
      }
    }
  }

  test("a67/a68 closed-form chi-square tails hit published critical values") {
    // the whole point of choosing even df: χ²₂'s survival is
    // exp(−x/2) and χ²₄'s is exp(−x/2)(1 + x/2) — pin both against
    // the textbook 5% and 1% critical values (Abramowitz & Stegun
    // table 26.8: χ²₂ 5.991/9.210, χ²₄ 9.488/13.277)
    def s2(x: Double) = math.exp(-x / 2)
    def s4(x: Double) = math.exp(-x / 2) * (1 + x / 2)
    assert(math.abs(s2(5.991) - 0.05) < 1e-4)
    assert(math.abs(s2(9.210) - 0.01) < 1e-4)
    assert(math.abs(s4(9.488) - 0.05) < 1e-4)
    assert(math.abs(s4(13.277) - 0.01) < 1e-4)
    // and the a67/a68 queries' p columns are probabilities consistent
    // with their statistics under exactly these forms
    val jb = Stats.queries("a67_jarque_bera")(spark, sf).collect()
    jb.foreach { r =>
      val stat = r.getDouble(r.fieldIndex("jb_stat"))
      val p = r.getDouble(r.fieldIndex("p_value"))
      assert(math.abs(p - math.rint(s2(stat) * 1e6) / 1e6) <= 1e-6,
        s"jb p=$p vs ${s2(stat)}")
    }
    val lb = Stats.queries("a68_ljung_box")(spark, sf).collect()
    lb.foreach { r =>
      val q = r.getDouble(r.fieldIndex("q_stat"))
      val p = r.getDouble(r.fieldIndex("p_value"))
      // q_stat is rounded to 6dp in the output while p was computed
      // from the unrounded q — compare within the rounding slack
      assert(math.abs(p - s4(q)) < 1e-5, s"lb p=$p vs ${s4(q)}")
    }
  }
  test("a58 zero-sum seasonal holds on a series with fewer than 7 dow groups") {
    // 9 consecutive days, one type: the 3-day trend edges NULL out,
    // so only days 3..5 survive detrending — exactly 3 weekday
    // groups. The re-centering must divide by the ACTUAL group count
    // (a literal 7 would silently break the identifiability
    // constraint Σ seasonal = 0, and an oracle making the same
    // mistake could never catch it).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("a58-fix")
    val rows = for (i <- 0 until 9; k <- 0 until 2) yield
      (i.toLong * 2 + k,
        new java.sql.Timestamp(i.toLong * 86400000L + k * 3600000L),
        i.toLong, "click", 10.0 + i * 3.0 + k + (i % 3) * 0.7, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    // the final (event_type, dow) join keeps only rows whose weekday
    // has a seasonal estimate — here exactly the 3 full-window days
    val out = Stats.queries("a58_seasonal_decomp")(spark, d).collect()
    val withTrend = out.filter(!_.isNullAt(3))
    assert(out.length == 3 && withTrend.length == 3,
      "3-day full-window trend rows expected")
    val seasonalByDow = withTrend
      .map(r => r.getTimestamp(1) -> r.getDouble(4)).toMap.values.toSeq
    assert(seasonalByDow.size == 3, "fixture must yield < 7 dow groups")
    // zero-sum identifiability over the 3 groups (1.5e-6 rounding slack)
    assert(math.abs(seasonalByDow.sum) <= 2e-6,
      s"seasonal must re-center to zero: ${seasonalByDow.toList}")
    // decomposition identity on every defined row
    withTrend.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3) - r.getDouble(4) -
        r.getDouble(5)) <= 2e-6)
    }
  }

  test("a71: identical periods score psi exactly 0; drift scores > 0") {
    // PSI semantics pinned where the real corpus can't: (1) the same
    // value multiset in both halves → every bin's smoothed p_a = p_b
    // → each term is exactly 0·ln(1) = 0 → psi 0.0 bit-exactly;
    // (2) shifting the second half's values must push psi strictly
    // positive (every PSI term (b−a)ln(b/a) is ≥ 0, so any bin
    // mismatch surfaces). Period split is the calendar literal
    // 2024-01-16 the query documents.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def write(d: String, shift: Double): Unit =
      (0 until 40).map { i =>
        val period = i % 2 // 0 → Jan 10, 1 → Jan 20
        val v = 10.0 + (i / 2 % 10) + (if (period == 1) shift else 0.0)
        (i.toLong,
          java.sql.Timestamp.valueOf(
            if (period == 0) "2024-01-10 12:00:00" else "2024-01-20 12:00:00"),
          i.toLong, if (i < 20) "click" else "purchase", v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")

    val d0 = SparkTestSession.fixtureDir("psi-null")
    write(d0, 0.0)
    val calm = Stats.queries("a71_psi_drift")(spark, d0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(calm.size == 2 && calm.values.forall(_ == 0.0),
      s"identical halves must score 0: $calm")

    val d1 = SparkTestSession.fixtureDir("psi-shift")
    write(d1, 5.0)
    val drifted = Stats.queries("a71_psi_drift")(spark, d1)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(drifted.values.forall(_ > 0.0),
      s"a shifted second half must score > 0: $drifted")
  }

  test("a72 AUC on a planted fixture equals the pairwise-count definition") {
    // click: positives score {3,4}, negatives {1,2,3} — a cross-group
    // tie at 3 must count ½ → AUC = (2 + 0.5 + 3)/6 = 11/12;
    // purchase: perfect separation → AUC = 1.0 (and value 11 = the
    // global max must land IN range via the 999 cap, not fall out)
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("auc-fix")
    val rows = Seq(
      ("click", 3.0, 80), ("click", 4.0, 80),
      ("click", 1.0, 10), ("click", 2.0, 10), ("click", 3.0, 10),
      ("purchase", 10.0, 80), ("purchase", 11.0, 80),
      ("purchase", 1.0, 10), ("purchase", 2.0, 10))
    rows.zipWithIndex.map { case ((t, v, k), i) => (i.toLong,
        new java.sql.Timestamp(i.toLong * 1000L), i.toLong, t, v,
        s"""{"k": $k}""") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Stats.queries("a72_roc_auc")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(out("click") == ((2L, 3L, 11.0 / 12.0)), s"click: $out")
    assert(out("purchase") == ((2L, 2L, 1.0)), s"purchase: $out")
    // pairwise definition, brute force (what the bin decomposition
    // must reproduce exactly when every score has its own bin)
    rows.groupBy(_._1).foreach { case (t, rs) =>
      val pos = rs.filter(_._3 >= 50).map(_._2)
      val neg = rs.filter(_._3 < 50).map(_._2)
      val won = (for (p <- pos; n <- neg) yield
        if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
      assert(out(t)._3 == won / (pos.size * neg.size), s"$t brute force")
    }
  }

  test("a79 W1: identical halves score exactly 0; a +5 shift scores ≈ 5") {
    import spark.implicits._
    def write(d: String, shift: Double): Unit =
      (0 until 400).map { i =>
        val period = i % 2
        val v = 10.0 + (i / 2 % 100) * 0.1 + (if (period == 1) shift else 0.0)
        (i.toLong,
          java.sql.Timestamp.valueOf(
            if (period == 0) "2024-01-10 12:00:00" else "2024-01-20 12:00:00"),
          i.toLong, if (i < 200) "click" else "purchase", v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val d0 = SparkTestSession.fixtureDir("w1-null")
    write(d0, 0.0)
    val calm = Stats.queries("a79_wasserstein")(spark, d0)
      .collect().map(_.getDouble(3))
    assert(calm.nonEmpty && calm.forall(_ == 0.0),
      s"identical halves must score exactly 0: ${calm.toList}")
    val d1 = SparkTestSession.fixtureDir("w1-shift")
    write(d1, 5.0)
    val shifted = Stats.queries("a79_wasserstein")(spark, d1)
      .collect().map(_.getDouble(3))
    // W1 of a +5 location shift is 5 up to bin-edge discretization
    assert(shifted.forall(w => w > 4.0 && w < 6.0),
      s"+5 shift must score ≈ 5: ${shifted.toList}")
  }

  test("a80 MASE: a pure weekly cycle scores 0, a pure trend scores 7") {
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("mase-fix")
    val pattern = Seq(10.0, 12.0, 9.0, 14.0, 11.0, 13.0, 8.0)
    ((1 to 28).map { day => // 'click': exact weekly cycle
      (day.toLong, f"2024-01-$day%02d 12:00:00", "click",
        pattern((day - 1) % 7))
    } ++ (1 to 28).map { day => // 'view': pure linear trend
      (100L + day, f"2024-01-$day%02d 12:00:00", "view", day * 2.0)
    }).zipWithIndex.map { case ((eid, ts, t, v), i) =>
      (eid, java.sql.Timestamp.valueOf(ts), i.toLong, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = Stats.queries("a80_mase")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val (nC, maeMC, _, maseC) = out("click")
    assert(nC == 21 && maeMC == 0.0 && maseC == 0.0,
      s"weekly cycle: $maeMC/$maseC") // seasonal-naive is exact
    val (nV, maeMV, maeNV, maseV) = out("view")
    assert(nV == 21 && maeMV == 14.0 && maeNV == 2.0 && maseV == 7.0,
      s"linear trend: lag-7 error is exactly 7x the lag-1 error")
  }

  test("a78 calibration block matches a sequential recompute at sf0.001") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2) >= 50))
    val vmin = ev.map(_._2).min; val vmax = ev.map(_._2).max
    def dsum12(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val rows = Stats.queries("a78_calibration")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
         r.getDouble(6))).toMap
    assert(rows.nonEmpty)
    ev.groupBy(_._1).foreach { case (t, es) =>
      val scored = es.map { case (_, v, y) =>
        val conf = (v - vmin) / (vmax - vmin)
        (math.min(math.floor(conf * 10).toLong, 9L), conf, y) }
      val brier = dsum12(scored.map { case (_, c, y) =>
        val d = c - (if (y) 1.0 else 0.0); d * d }.toSeq) / es.length
      scored.groupBy(_._1).foreach { case (bin, bs) =>
        val (n, avgQ, fracQ, gapQ, brierQ) = rows((t, bin))
        assert(n == bs.length, s"$t/$bin n")
        val avg = math.rint(dsum12(bs.map(_._2).toSeq) / bs.length * 1e6) / 1e6
        val frac = bs.count(_._3).toDouble / bs.length
        assert(avgQ == avg && fracQ == frac, s"$t/$bin conf/frac")
        assert(math.abs(gapQ - (frac - dsum12(bs.map(_._2).toSeq) /
          bs.length)) < 1e-6, s"$t/$bin gap")
        assert(math.abs(brierQ - brier) < 1e-6, s"$t/$bin brier")
      }
    }
  }

  test("a77 Page–Hinkley: quiet series stays silent, planted shift alarms") {
    import spark.implicits._
    def write(d: String, shift: Double): Unit =
      (0 until 60).map { i =>
        val day = i / 2 + 1 // 30 days, 2 events/day
        val v = 10.0 + (i % 2) + (if (day > 20) shift else 0.0)
        (i.toLong,
          java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:0${i % 2}"),
          i.toLong, "click", v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val d0 = SparkTestSession.fixtureDir("ph-quiet")
    write(d0, 0.0)
    val quiet = Stats.queries("a77_page_hinkley")(spark, d0).collect()
    assert(quiet.nonEmpty && quiet.forall(!_.getBoolean(4)),
      "stationary series must never alarm")
    val d1 = SparkTestSession.fixtureDir("ph-shift")
    write(d1, 8.0)
    val shifted = Stats.queries("a77_page_hinkley")(spark, d1).collect()
      .map(r => (r.get(1).toString, r.getDouble(3), r.getBoolean(4)))
      .sortBy(_._1)
    assert(shifted.take(20).forall(!_._3), "no alarm before the shift")
    assert(shifted.drop(21).exists(_._3), "the +8 shift must alarm")
    // sequential PH recompute on the shifted fixture (textbook form,
    // mirroring the decimal pinning)
    def dsum12(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val vs = shifted.indices.map { i =>
      // daily mean of the two planted events (via the same decimal path)
      val day = i + 1
      val base = 10.0 + (if (day > 20) 8.0 else 0.0)
      dsum12(Seq(base, base + 1.0)) / 2
    }
    var mMin = Double.MaxValue
    vs.indices.foreach { i =>
      val runMean = dsum12(vs.take(i + 1)) / (i + 1)
      val m = dsum12(vs.take(i + 1).zipWithIndex.map { case (_, j) =>
        vs(j) - dsum12(vs.take(j + 1)) / (j + 1) - 0.05 })
      mMin = math.min(mMin, m)
      val ph = m - mMin
      assert(math.abs(shifted(i)._2 - ph) < 1e-9,
        s"day ${i + 1}: ph ${shifted(i)._2} vs sequential $ph")
    }
  }

  test("w25/w26 ATR and stochastic match a sequential candle recompute") {
    // both operators are deterministic functions of the (oracle-
    // checked) w16 candles — recompute sequentially per series in day
    // order, mirroring the decimal(24,10) window pinning
    def dsum10(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val candles = graft.operators.Windows.queries("w16_ohlc_candles")(
        spark, sf).collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))  // type, day, high, low, close
      .groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2).toList }
    val atrQ = graft.operators.Windows.queries("w25_atr")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val stoQ = graft.operators.Windows.queries("w26_stochastic")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)),
         if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(atrQ.nonEmpty && stoQ.nonEmpty)
    var checkedAtr = 0; var checkedD = 0
    candles.foreach { case (t, days) =>
      val trs = days.sliding(2).collect { case Seq(p, c) =>
        c._2 -> math.max(c._3 - c._4,
          math.max(math.abs(c._3 - p._5), math.abs(c._4 - p._5)))
      }.toSeq
      trs.sliding(5).foreach { win =>
        if (win.size == 5) {
          val (day, tr) = win.last
          val atr = dsum10(win.map(_._2)) / 5
          assert(atrQ((t, day)) == ((tr, atr)), s"$t $day atr")
          checkedAtr += 1
        }
      }
      val ks = days.sliding(5).collect { case win if win.size == 5 =>
        val hh = win.map(_._3).max; val ll = win.map(_._4).min
        win.last._2 -> (if (hh != ll)
          Some(100.0 * (win.last._5 - ll) / (hh - ll)) else None)
      }.toSeq
      ks.zipWithIndex.foreach { case ((day, k), i) =>
        val last3 = ks.slice(i - 2, i + 1).map(_._2)
        val dv = if (last3.size == 3 && last3.forall(_.isDefined))
          Some(dsum10(last3.map(_.get)) / 3) else None
        assert(stoQ((t, day)) == ((k, dv)), s"$t $day stochastic")
        if (dv.isDefined) checkedD += 1
      }
    }
    assert(checkedAtr > 0 && checkedD > 0, "vacuous sweep")
  }

  test("w53 chandelier stops are exact functions of w25's ATR and the candle extremes") {
    // w53 shares w25's (oracle-checked) candle/TR/ATR chain; its new
    // content is the HH/LL extreme picks and the two stop chains —
    // recompute all of it sequentially from the w16 candles
    def dsum10(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val candles = graft.operators.Windows.queries("w16_ohlc_candles")(
        spark, sf).collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
      .groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2).toList }
    val got = graft.operators.Windows.queries("w53_chandelier")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getBoolean(7)))).toMap
    assert(got.nonEmpty)
    var checked = 0
    candles.foreach { case (t, days) =>
      val rows = days.sliding(2).collect { case Seq(p, c) =>
        (c._2, c._3, c._4, c._5, math.max(c._3 - c._4,
          math.max(math.abs(c._3 - p._5), math.abs(c._4 - p._5))))
      }.toSeq  // (day, high, low, close, tr)
      rows.sliding(5).foreach { win =>
        if (win.size == 5) {
          val (day, _, _, close, _) = win.last
          val atr = dsum10(win.map(_._5)) / 5
          val hh = win.map(_._2).max; val ll = win.map(_._3).min
          val want = (atr, hh, ll, hh - 3.0 * atr, ll + 3.0 * atr,
            close > hh - 3.0 * atr)
          assert(got((t, day)) == want, s"$t $day")
          checked += 1
        }
      }
    }
    assert(checked > 0, "vacuous sweep")
  }

  test("a119 CMH matches a sequential stratified recompute; pooling differs from naive") {
    import org.apache.spark.sql.functions._
    // rebuild the daily up-price/up-volume panel sequentially
    val days = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"), r.getAs[Long]("qty")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        val ord = es.sortBy(e => (e._3.getTime, e._4))
        (t, day, ord.last._5, ord.map(_._6).sum)
      }.toSeq.groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2) }
    val strata = days.toSeq.map { case (t, rs) =>
      val flags = rs.sliding(2).collect { case Seq(p, c) =>
        (if (c._3 > p._3) 1L else 0L, if (c._4 > p._4) 1L else 0L)
      }.toSeq
      val nk = flags.size.toLong
      (t, nk, flags.count(f => f._1 == 1 && f._2 == 1).toLong,
        flags.map(_._1).sum, flags.map(_._2).sum)
    }.filter(_._2 > 1).sortBy(_._1)
    val sumA = strata.map(_._3).sum
    val sumE = strata.foldLeft(0.0) { case (acc, (_, nk, _, r1, c1)) =>
      acc + (r1 * c1).toDouble / nk.toDouble }
    val sumV = strata.foldLeft(0.0) { case (acc, (_, nk, _, r1, c1)) =>
      acc + (r1 * (nk - r1) * c1 * (nk - c1)).toDouble /
        (nk * nk * (nk - 1)).toDouble }
    val g = math.max(0.0, math.abs(sumA.toDouble - sumE) - 0.5)
    val r = Stats.queries("a119_cmh")(spark, sf).head()
    assert(r.getLong(0) == strata.size.toLong && r.getLong(2) == sumA)
    assert(r.getDouble(3) == sumE && r.getDouble(4) == sumV)
    if (sumV > 0) assert(r.getDouble(5) == g * g / sumV)
    assert(r.getDouble(5) >= 0.0)
  }

  test("txt27 domain fit: single-source corpus has zero gap, planted dialect scores positive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one source only: own model == global model -> fit_gap exactly 0
    val d1 = SparkTestSession.fixtureDir("txt27-one")
    Seq((1L, "alpha beta alpha", "en", "wiki", 16L),
      (2L, "beta beta gamma", "en", "wiki", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d1/documents.parquet")
    val one = graft.operators.TextAnalysis
      .queries("txt27_domain_fit")(spark, d1).collect()
    assert(one.length == 2 && one.forall(r => r.getDouble(5) == 0.0))
    // two sources with disjoint dialect words: each doc is better
    // explained by its own source's model -> strictly positive gap
    val d2 = SparkTestSession.fixtureDir("txt27-two")
    Seq((1L, "foo foo shared", "en", "a", 14L),
      (2L, "foo shared shared", "en", "a", 17L),
      (3L, "bar bar shared", "en", "b", 14L),
      (4L, "bar shared shared", "en", "b", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val two = graft.operators.TextAnalysis
      .queries("txt27_domain_fit")(spark, d2).collect()
    assert(two.length == 4 && two.forall(r => r.getDouble(5) > 0.0),
      "dialect docs must fit their own source strictly better")
    // and on the natural corpus: gaps exist in both directions is NOT
    // required, but ce columns must be positive and finite
    val nat = graft.operators.TextAnalysis
      .queries("txt27_domain_fit")(spark, sf).collect()
    assert(nat.nonEmpty)
    nat.foreach { r =>
      assert(r.getDouble(3) > 0 && r.getDouble(4) > 0, r.getLong(0))
      assert(!r.getDouble(5).isNaN)
    }
  }

  test("w27/w28 OBV and MFI match a sequential candle+volume recompute") {
    // both are deterministic functions of the (oracle-checked) w16
    // candles plus the w24 JSON volume — recompute sequentially per
    // series in day order: OBV in pure Long arithmetic, MFI via the
    // decimal(28,4)-pinned windowed flow sums
    def dsum4(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    import org.apache.spark.sql.functions._
    val days = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"), r.getAs[Long]("qty")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        val ord = es.sortBy(e => (e._3.getTime, e._4))
        (t, day, ord.map(_._5).max, ord.map(_._5).min, ord.last._5,
          ord.map(_._6).sum)
      }.toSeq.groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).toList  // (t, day, high, low, close, vol)
      }
    val obvQ = graft.operators.Windows.queries("w27_obv")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val mfiQ = graft.operators.Windows.queries("w28_mfi")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(obvQ.nonEmpty && mfiQ.nonEmpty)
    var checked = 0
    days.foreach { case (t, ds) =>
      var obv = 0L
      val flows = ds.sliding(2).collect { case List(p, c) =>
        val tp3p = p._3 + p._4 + p._5; val tp3 = c._3 + c._4 + c._5
        // OBV direction is close-vs-prev-close; MFI's is typical price
        (c._2, c._6, c._5.compare(p._5), tp3.compare(tp3p), tp3 * c._6)
      }.toList
      flows.foreach { case (day, vol, dirC, _, _) =>
        val sv = dirC * vol
        obv += sv
        assert(obvQ((t, day)) == ((vol, sv, obv)), s"$t $day obv")
      }
      flows.sliding(5).foreach { win =>
        if (win.size == 5) {
          val day = win.last._1
          val pos = dsum4(win.collect { case (_, _, _, 1, mf) => mf })
          val neg = dsum4(win.collect { case (_, _, _, -1, mf) => mf })
          val exp = if (pos + neg > 0) Some(100.0 * pos / (pos + neg))
                    else None
          assert(mfiQ((t, day)) == exp, s"$t $day mfi")
          checked += 1
        }
      }
    }
    assert(checked > 0, "vacuous sweep")
  }

  test("w29 Donchian channel matches a sequential candle recompute") {
    val candles = graft.operators.Windows.queries("w16_ohlc_candles")(
        spark, sf).collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))  // type, day, high, low, close
      .groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2).toList }
    val got = graft.operators.Windows.queries("w29_donchian")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4),
         r.getBoolean(5), r.getBoolean(6))).toMap
    assert(got.nonEmpty)
    var n = 0
    candles.foreach { case (t, days) =>
      days.sliding(6).foreach { win =>
        if (win.size == 6) {
          val cur = win.drop(1); val prior = win.dropRight(1)
          val day = cur.last._2
          val exp = (cur.last._5, cur.map(_._3).max, cur.map(_._4).min,
            cur.last._5 > prior.map(_._3).max,
            cur.last._5 < prior.map(_._4).min)
          assert(got((t, day)) == exp, s"$t $day")
          n += 1
        }
      }
    }
    assert(n > 0 && n == got.size, s"swept $n of ${got.size}")
  }

  test("w44 Ichimoku matches a sequential candle recompute") {
    val candles = graft.operators.Windows.queries("w16_ohlc_candles")(
        spark, sf).collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))  // type, day, high, low, close
      .groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).toIndexedSeq }
    val got = graft.operators.Windows.queries("w44_ichimoku")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
         r.getDouble(6),
         if (r.isNullAt(7)) None else Some(r.getDouble(7)))).toMap
    assert(got.nonEmpty)
    var n = 0
    candles.foreach { case (t, arr) =>
      // midpoint of the inclusive day-index window [lo, hi]
      def mid(lo: Int, hi: Int): Double =
        (arr.slice(lo, hi + 1).map(_._3).max +
         arr.slice(lo, hi + 1).map(_._4).min) / 2
      arr.indices.foreach { i =>
        // qualifies when the 20-day window was full at the DISPLACED
        // row i-5, i.e. i-5 >= 19
        if (i >= 24) {
          val senA = (mid(i - 9, i - 5) + mid(i - 14, i - 5)) / 2
          val exp = (arr(i)._5, mid(i - 4, i), mid(i - 9, i),
            senA, mid(i - 24, i - 5),
            if (i + 5 < arr.size) Some(arr(i + 5)._5) else None)
          assert(got((t, arr(i)._2)) == exp, s"$t ${arr(i)._2}")
          n += 1
        }
      }
    }
    assert(n > 0 && n == got.size, s"swept $n of ${got.size}")
  }

  test("a104 Cronbach's alpha matches a sequential panel recompute") {
    import org.apache.spark.sql.functions._
    def dec(x: Double, sc: Int): BigDecimal =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP)
    def r6v(v: Double) = math.rint(v * 1e6) / 1e6
    val daily = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, es.map(e => dec(e._3, 10)).sum.toDouble / es.size)
      }.toSeq
    // complete panel precondition the operator documents
    val types = daily.map(_._1).distinct
    val days = daily.map(_._2).distinct
    assert(daily.size == types.size * days.size, "panel has holes")
    def sampleVar(xs: Seq[Double]): Double = {
      val n = xs.size
      val s1 = xs.map(dec(_, 10)).sum.toDouble
      val s2 = xs.map(x => dec(x * x, 10)).sum.toDouble
      (s2 - s1 * s1 / n) / (n - 1)
    }
    val ivars = types.map(t =>
      r6v(sampleVar(daily.filter(_._1 == t).map(_._3))))
    val siv = ivars.map(dec(_, 10)).sum.toDouble
    val totals = days.map(d =>
      daily.filter(_._2 == d).map(v => dec(v._3, 10)).sum.toDouble)
    val tvar = r6v(sampleVar(totals))
    val k = types.size
    val alpha = (k.toDouble / (k - 1)) * (1.0 - siv / tvar)
    val row = graft.operators.Stats.queries("a104_cronbach_alpha")(
      spark, sf).collect().head
    assert(row.getLong(0) == k.toLong && row.getLong(1) == days.size.toLong)
    assert(math.abs(row.getDouble(2) - siv) <= 5e-6, "sum_item_var")
    assert(math.abs(row.getDouble(3) - tvar) <= 5e-6, "total_var")
    assert(math.abs(row.getDouble(4) - alpha) <= 1e-5, "alpha")
    assert(row.getDouble(4) <= 1.0 + 1e-9, "alpha cannot exceed 1")
  }

  test("a105 ICC matches a sequential two-way ANOVA recompute") {
    import org.apache.spark.sql.functions._
    def dec(x: Double, sc: Int): BigDecimal =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP)
    def r6v(v: Double) = math.rint(v * 1e6) / 1e6
    val daily = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, es.map(e => dec(e._3, 10)).sum.toDouble / es.size)
      }.toSeq
    val types = daily.map(_._1).distinct
    val days = daily.map(_._2).distinct
    assert(daily.size == types.size * days.size, "panel has holes")
    val k = types.size; val n = days.size; val nk = daily.size
    val s = daily.map(e => dec(e._3, 10)).sum.toDouble
    val ssq = daily.map(e => dec(e._3 * e._3, 10)).sum.toDouble
    val tots = days.map(d =>
      daily.filter(_._2 == d).map(e => dec(e._3, 10)).sum.toDouble)
    val srow = tots.map(t => dec(t * t, 10)).sum.toDouble
    val tss = types.map(t =>
      daily.filter(_._1 == t).map(e => dec(e._3, 10)).sum.toDouble)
    val scol = tss.map(t => dec(t * t, 10)).sum.toDouble
    val cf = s * s / nk
    val ssr = srow / k - cf
    val ssc = scol / n - cf
    val sse = (ssq - cf) - ssr - ssc
    val msr = ssr / (n - 1); val msc = ssc / (k - 1)
    val mse = sse / ((n - 1) * (k - 1))
    val icc31 = (msr - mse) / (msr + (k - 1) * mse)
    val icc21 = (msr - mse) /
      (msr + (k - 1) * mse + k * (msc - mse) / n.toDouble)
    val row = graft.operators.Stats.queries("a105_icc")(spark, sf)
      .collect().head
    assert(row.getLong(0) == k.toLong && row.getLong(1) == n.toLong)
    assert(math.abs(row.getDouble(2) - r6v(msr)) <= 1e-6, "ms_rows")
    assert(math.abs(row.getDouble(3) - r6v(msc)) <= 1e-6, "ms_cols")
    assert(math.abs(row.getDouble(4) - r6v(mse)) <= 1e-6, "ms_err")
    assert(math.abs(row.getDouble(5) - icc31) <= 1e-5, "icc_3_1")
    assert(math.abs(row.getDouble(6) - icc21) <= 1e-5, "icc_2_1")
    // ICC(2,1) penalizes the level disagreement ICC(3,1) forgives,
    // so consistency bounds agreement from above
    assert(row.getDouble(6) <= row.getDouble(5) + 1e-9)
    assert(row.getDouble(5) <= 1.0 + 1e-9)
  }

  test("a106 Bartlett matches a sequential variance recompute") {
    def dec(x: Double, sc: Int): BigDecimal =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP)
    def r6v(v: Double) = math.rint(v * 1e6) / 1e6
    val vals = graft.Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (t, es) => t -> es.map(_._2).toSeq }
    val cells = vals.toSeq.map { case (_, xs) =>
      val ni = xs.size
      val s1 = xs.map(dec(_, 10)).sum.toDouble
      val s2 = xs.map(x => dec(x * x, 10)).sum.toDouble
      (ni, r6v((s2 - s1 * s1 / ni) / (ni - 1)))
    }.filter(_._2 > 0)
    val k = cells.size
    val nn = cells.map(_._1).sum
    val poolNum = cells.map { case (ni, sv) =>
      dec((ni - 1).toDouble * sv, 10) }.sum.toDouble
    val lnTerms = cells.map { case (ni, sv) =>
      dec(r6v((ni - 1).toDouble * math.log(sv)), 10) }.sum.toDouble
    val recip = cells.map { case (ni, _) =>
      dec(r6v(1.0 / (ni - 1)), 10) }.sum.toDouble
    val df = (nn - k).toDouble
    val sp2 = r6v(poolNum / df)
    val c = 1.0 + (recip - 1.0 / df) / (3.0 * (k - 1))
    val t = (df * r6v(math.log(sp2)) - lnTerms) / c
    val row = graft.operators.Stats.queries("a106_bartlett")(spark, sf)
      .collect().head
    assert(row.getLong(0) == k.toLong && row.getLong(1) == nn.toLong)
    assert(math.abs(row.getDouble(2) - sp2) <= 1e-6, "pooled_var")
    assert(math.abs(row.getDouble(3) - c) <= 5e-6, "correction_c")
    assert(math.abs(row.getDouble(4) - t) <= 1e-4, "bartlett_t")
    // the statistic is a log-sum-inequality deficit: nonnegative
    assert(row.getDouble(4) >= -1e-6, "Bartlett T cannot be negative")
  }

  test("w45 DEMA/TEMA and w46 mass index match sequential cascades") {
    def dpin(scale: Int)(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(scale, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    def r6v(v: Double) = math.rint(v * 1e6) / 1e6
    import org.apache.spark.sql.functions._
    def mw(span: Int, j: Int): Double =
      math.pow((span - 1.0) / (span + 1.0), j)
    def ewmaAt(series: List[Double], i: Int, span: Int): Double = {
      var num = 0.0; var den = 0.0
      (0 until 24).foreach { j =>
        if (i - j >= 0) { num += mw(span, j) * series(i - j)
          den += mw(span, j) }
        else { num += 0.0; den += 0.0 }
      }
      num / den
    }
    val byDay = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2))
    // W45 over the daily MEAN px
    val px = byDay.map { case ((t, day), es) =>
      (t, day, dpin(10)(es.map(_._3).toSeq) / es.size)
    }.toSeq.groupBy(_._1).map { case (t, rs) =>
      t -> rs.sortBy(_._2).map(r => (r._2, r._3)).toList }
    val dt = graft.operators.Windows.queries("w45_dema_tema")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    px.foreach { case (t, ds) =>
      def cascade(series: List[Double]): List[Double] =
        series.indices.map(i => ewmaAt(series, i, 10)).toList
      val e1 = cascade(ds.map(_._2))
      val e2 = cascade(e1); val e3 = cascade(e2)
      ds.indices.foreach { i =>
        val exp = (e1(i), 2.0 * e1(i) - e2(i),
          3.0 * e1(i) - 3.0 * e2(i) + e3(i))
        assert(dt((t, ds(i)._1)) == exp, s"$t ${ds(i)._1} dema/tema")
      }
    }
    assert(dt.nonEmpty)
    // W46 over the daily candle RANGE
    val rng = byDay.map { case ((t, day), es) =>
      (t, day, es.map(_._3).max - es.map(_._3).min)
    }.toSeq.groupBy(_._1).map { case (t, rs) =>
      t -> rs.sortBy(_._2).map(r => (r._2, r._3)).toList }
    val mi = graft.operators.Windows.queries("w46_mass_index")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    var nMi = 0
    rng.foreach { case (t, ds) =>
      def cascade(series: List[Double]): List[Double] =
        series.indices.map(i => ewmaAt(series, i, 9)).toList
      val e1 = cascade(ds.map(_._2))
      val e2 = cascade(e1)
      val ratios = ds.indices.map(i => r6v(e1(i) / e2(i))).toList
      ds.indices.foreach { i =>
        if (i >= 9) {
          val mass = dpin(10)(ratios.slice(i - 9, i + 1))
          assert(mi((t, ds(i)._1)) == ((ratios(i), mass)),
            s"$t ${ds(i)._1} mass")
          nMi += 1
        }
      }
    }
    assert(nMi > 0 && nMi == mi.size)
  }

  test("a107 Siegel slopes match a sequential repeated-medians recompute") {
    import org.apache.spark.sql.functions._
    def dec(x: Double, sc: Int): BigDecimal =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP)
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val base = java.time.LocalDate.parse("2024-01-01")
    val panel = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        val x = java.time.temporal.ChronoUnit.DAYS.between(
          base, java.time.LocalDate.parse(day.take(10))).toDouble
        (t, x, es.map(e => dec(e._3, 10)).sum.toDouble / es.size)
      }.toSeq.groupBy(_._1)
    val got = graft.operators.Stats.queries("a107_siegel_slopes")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    panel.foreach { case (t, pts) =>
      val ds = pts.map(p => (p._2, p._3)).toSeq
      val inner = ds.map { case (xi, yi) =>
        (xi, yi, med(ds.filter(_._1 != xi).map { case (xj, yj) =>
          (yj - yi) / (xj - xi) }))
      }
      val slope = med(inner.map(_._3))
      val icept = med(inner.map { case (xi, yi, _) => yi - slope * xi })
      val (n, gs, gi) = got(t)
      assert(n == ds.size.toLong, s"$t n_days")
      assert(math.abs(gs - slope) <= 1e-6, s"$t slope")
      assert(math.abs(gi - icept) <= 1e-6, s"$t intercept")
    }
  }

  test("a108 Page trend matches a sequential midrank recompute") {
    import org.apache.spark.sql.functions._
    def dec(x: Double, sc: Int): BigDecimal =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP)
    val cells = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, es.map(e => dec(e._3, 10)).sum.toDouble / es.size)
      }.toSeq
    val types = cells.map(_._1).distinct.sorted
    val k = types.size
    val fullDays = cells.groupBy(_._2).filter(_._2.size == k).keySet
    val blocks = cells.filter(c => fullDays(c._2)).groupBy(_._2)
    // midranks per complete day
    val rankSum = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    blocks.foreach { case (_, rows) =>
      val ys = rows.map(_._3).toSeq
      rows.foreach { case (t, _, y) =>
        val below = ys.count(_ < y); val eq = ys.count(_ == y)
        rankSum(t) += (below + 1) + (eq - 1) / 2.0
      }
    }
    val n = blocks.size
    val l = types.zipWithIndex.map { case (t, i) =>
      (i + 1).toDouble * rankSum(t) }.sum
    val mean = (n.toLong * k * (k + 1) * (k + 1)).toDouble / 4
    val varL = (n.toLong * k * k * (k + 1) * (k * k - 1)).toDouble / 144
    val z = (l - mean) / math.sqrt(varL)
    val row = graft.operators.Stats.queries("a108_page_trend")(spark, sf)
      .collect().head
    assert(row.getLong(0) == k.toLong && row.getLong(1) == n.toLong)
    assert(row.getDouble(2) == l, "L is exact on the half grid")
    assert(math.abs(row.getDouble(3) - z) <= 1e-9, "z")
  }

  test("w47 Coppock matches a sequential ROC+WMA recompute") {
    import org.apache.spark.sql.functions._
    def dpin(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val px = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, dpin(es.map(_._3).toSeq) / es.size)
      }.toSeq.groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).map(r => (r._2, r._3)).toList }
    val got = graft.operators.Windows.queries("w47_coppock")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    var nG = 0
    px.foreach { case (t, ds) =>
      val p = ds.map(_._2)
      def s(i: Int): Double =
        100.0 * (p(i) / p(i - 10) - 1) + 100.0 * (p(i) / p(i - 7) - 1)
      ds.indices.foreach { i =>
        if (i >= 14) {
          val w = (5.0 * s(i) + 4.0 * s(i - 1) + 3.0 * s(i - 2) +
            2.0 * s(i - 3) + s(i - 4)) / 15
          assert(got((t, ds(i)._1)) == ((s(i), w)), s"$t ${ds(i)._1}")
          nG += 1
        }
      }
    }
    assert(nG > 0 && nG == got.size, s"swept $nG of ${got.size}")
  }

  test("a109 Jonckheere matches a brute-force ordered-pair count") {
    // brute force: J = Σ_{g<h alphabetical} (#(x<y) + ½#(x=y)) over
    // raw values — the definition, no ranks at all; the engine's
    // midrank identity must land on exactly this number
    val vals = graft.Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (t, es) => t -> es.map(_._2).toSeq }
    val types = vals.keys.toSeq.sorted
    var j2 = 0L
    for (gi <- types.indices; hi <- (gi + 1) until types.size) {
      val (g, h) = (vals(types(gi)), vals(types(hi)))
      g.foreach { x =>
        h.foreach { y =>
          if (x < y) j2 += 2 else if (x == y) j2 += 1
        }
      }
    }
    val n = vals.values.map(_.size.toLong).sum
    val sn2 = vals.values.map(v => v.size.toLong * v.size).sum
    val sn23 = vals.values.map(v =>
      v.size.toLong * v.size * (2L * v.size + 3)).sum
    val jStat = j2.toDouble / 2
    val z = (jStat - (n * n - sn2).toDouble / 4) /
      math.sqrt((n * n * (2 * n + 3) - sn23).toDouble / 72)
    val row = graft.operators.Stats.queries("a109_jonckheere")(spark, sf)
      .collect().head
    assert(row.getLong(0) == types.size.toLong && row.getLong(1) == n)
    assert(row.getDouble(2) == jStat, "J must be exact on the half grid")
    assert(math.abs(row.getDouble(3) - z) <= 1e-9, "z")
  }

  test("w48 KST matches a sequential four-cascade recompute") {
    import org.apache.spark.sql.functions._
    def dpin(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    def r6v(v: Double) = math.rint(v * 1e6) / 1e6
    val px = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, dpin(es.map(_._3).toSeq) / es.size)
      }.toSeq.groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).map(r => (r._2, r._3)).toList }
    val got = graft.operators.Windows.queries("w48_kst")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    var nG = 0
    px.foreach { case (t, ds) =>
      val p = ds.map(_._2)
      def roc(i: Int, k: Int): Option[Double] =
        if (i >= k) Some(r6v(100.0 * (p(i) / p(i - k) - 1))) else None
      def smaAt(i: Int, k: Int): Option[Double] = {
        val w = (i - 4 to i).flatMap(j => if (j >= 0) roc(j, k) else None)
        if (w.size == 5) Some(r6v(dpin(w) / 5)) else None
      }
      val kst = ds.indices.map { i =>
        if (i >= 18)
          Some((smaAt(i, 5).get + 2.0 * smaAt(i, 7).get +
            3.0 * smaAt(i, 10).get + 4.0 * smaAt(i, 14).get))
        else None
      }
      ds.indices.foreach { i =>
        if (i >= 22) {
          val sig = dpin((i - 4 to i).map(j => r6v(kst(j).get))) / 5
          assert(got((t, ds(i)._1)) ==
            ((r6v(kst(i).get), r6v(sig))), s"$t ${ds(i)._1}")
          nG += 1
        }
      }
    }
    assert(nG > 0 && nG == got.size, s"swept $nG of ${got.size}")
  }

  test("a110 Cochran-Armitage matches a sequential up-rate recompute") {
    import org.apache.spark.sql.functions._
    def dec(x: Double): BigDecimal =
      BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    val panel = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, es.map(e => dec(e._3)).sum.toDouble / es.size)
      }.toSeq.groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).map(_._3).toList }
    val types = panel.keys.toSeq.sorted
    val cells = types.map { t =>
      val p = panel(t)
      val deltas = p.indices.drop(1).map(i => p(i) - p(i - 1))
      (deltas.size.toLong, deltas.count(_ > 0).toLong)
    }
    val n = cells.map(_._1).sum; val r = cells.map(_._2).sum
    val sjr = cells.zipWithIndex.map { case ((_, rj), i) =>
      (i + 1) * rj }.sum
    val sjn = cells.zipWithIndex.map { case ((nj, _), i) =>
      (i + 1) * nj }.sum
    val sj2n = cells.zipWithIndex.map { case ((nj, _), i) =>
      (i + 1).toLong * (i + 1) * nj }.sum
    val pbar = r.toDouble / n.toDouble
    val t = sjr.toDouble - pbar * sjn.toDouble
    val v = pbar * (1.0 - pbar) *
      (sj2n.toDouble - (sjn * sjn).toDouble / n.toDouble)
    val row = graft.operators.Stats.queries("a110_cochran_armitage")(
      spark, sf).collect().head
    assert(row.getLong(0) == types.size.toLong && row.getLong(1) == n &&
      row.getLong(2) == r)
    assert(row.getDouble(3) == t, "trend T is exact on integer cells")
    assert(math.abs(row.getDouble(4) - t / math.sqrt(v)) <= 1e-9, "z")
  }

  test("a111 Ansari-Bradley matches a sequential edge-rank recompute") {
    val rows = graft.Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .filter(r => r._1 == "click" || r._1 == "purchase")
    val n1 = rows.count(_._1 == "click").toLong
    val n2 = rows.count(_._1 == "purchase").toLong
    val n = n1 + n2
    // ×2 midranks then the edge-distance scores
    val sorted = rows.map(_._2).sorted
    def r2(v: Double): Long = {
      val below = sorted.count(_ < v).toLong
      val eq = sorted.count(_ == v).toLong
      2 * below + eq + 1
    }
    val ab2 = rows.filter(_._1 == "click").map { case (_, v) =>
      math.min(r2(v), 2 * (n + 1) - r2(v)) }.sum
    val ab = ab2.toDouble / 2
    val (mean, variance) =
      if (n % 2 == 0)
        ((n1 * (n + 2)).toDouble / 4,
          (n1 * n2).toDouble * ((n + 2) * (n - 2)).toDouble /
            (48 * (n - 1)).toDouble)
      else
        ((n1 * (n + 1) * (n + 1)).toDouble / (4 * n).toDouble,
          (n1 * n2).toDouble * (n + 1).toDouble *
            (3 + n * n).toDouble / (48 * n * n).toDouble)
    val row = graft.operators.Stats.queries("a111_ansari_bradley")(
      spark, sf).collect().head
    assert(row.getLong(0) == n1 && row.getLong(1) == n2)
    assert(row.getDouble(2) == ab, "AB is exact on the half grid")
    assert(math.abs(row.getDouble(3) - (ab - mean) / math.sqrt(variance))
      <= 1e-9, "z")
  }

  test("w49 Elder Ray matches a sequential cascade recompute") {
    import org.apache.spark.sql.functions._
    def dpin(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    def mw(j: Int): Double = math.pow(12.0 / 14.0, j)
    val byDay = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, es.map(_._3).max, es.map(_._3).min,
          dpin(es.map(_._3).toSeq) / es.size)
      }.toSeq.groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).toList }
    val got = graft.operators.Windows.queries("w49_elder_ray")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    byDay.foreach { case (t, ds) =>
      val p = ds.map(_._5)
      ds.indices.foreach { i =>
        var num = 0.0; var den = 0.0
        (0 until 24).foreach { j =>
          if (i - j >= 0) { num += mw(j) * p(i - j); den += mw(j) }
          else { num += 0.0; den += 0.0 }
        }
        val ema = num / den
        assert(got((t, ds(i)._2)) ==
          ((ema, ds(i)._3 - ema, ds(i)._4 - ema)), s"$t ${ds(i)._2}")
      }
    }
    assert(got.nonEmpty)
  }

  test("a112/a113 CvM and Kuiper match a sequential ECDF sweep") {
    import org.apache.spark.sql.functions.col
    // one sorted pass over the combined sample: inclusive cumulatives,
    // the exact integer gap dd = n2·c1 − n1·c2 per distinct value, the
    // BigInt CvM numerator and the Kuiper extreme picks — the anchor
    // that proves the bucketed two-level decomposition is drift-free
    val rows = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0) == "click", r.getDouble(1)))
    val n1 = rows.count(_._1).toLong
    val n2 = rows.length.toLong - n1
    var c1 = 0L; var c2 = 0L
    var num = BigInt(0); var dmax = 0L; var dmin = 0L
    rows.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, g) =>
      val k1 = g.count(_._1).toLong
      val k = g.length.toLong
      c1 += k1; c2 += k - k1
      val dd = n2 * c1 - n1 * c2
      num += BigInt(dd) * BigInt(dd) * BigInt(k)
      if (dd > dmax) dmax = dd
      if (dd < dmin) dmin = dd
    }
    val nn = n1 + n2
    val expT = num.toDouble / ((n1 * n2).toDouble * (nn * nn).toDouble)
    val cvm = graft.operators.Stats.queries("a112_cramer_von_mises")(
      spark, sf).collect().head
    assert(cvm.getLong(0) == n1 && cvm.getLong(1) == n2)
    assert(cvm.getDouble(2) == expT, "cvm_t is exact (integer core)")
    assert(expT > 0, "vacuous: identical ECDFs")
    val dplus = math.max(dmax, 0L).toDouble / (n1 * n2).toDouble
    val dminus = (-math.min(dmin, 0L)).toDouble / (n1 * n2).toDouble
    val v = (math.max(dmax, 0L) - math.min(dmin, 0L)).toDouble /
      (n1 * n2).toDouble
    val kp = graft.operators.Stats.queries("a113_kuiper")(spark, sf)
      .collect().head
    assert(kp.getLong(0) == n1 && kp.getLong(1) == n2)
    assert(kp.getDouble(2) == dplus, "d_plus exact")
    assert(kp.getDouble(3) == dminus, "d_minus exact")
    assert(kp.getDouble(4) == v, "kuiper_v exact")
    assert(v >= math.max(dplus, dminus) && v <= dplus + dminus + 1e-15,
      "V must sit between max and sum of the one-sided gaps")
  }

  test("a114 Anderson–Darling matches a sequential midrank recompute") {
    import org.apache.spark.sql.functions.col
    def r6v(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0) == "click", r.getDouble(1)))
    val n1 = rows.count(_._1).toLong
    val n2 = rows.length.toLong - n1
    val nn = n1 + n2
    var c1 = 0L; var c2 = 0L
    val t1s = List.newBuilder[Double]; val t2s = List.newBuilder[Double]
    rows.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, g) =>
      val k1 = g.count(_._1).toLong
      val k = g.length.toLong
      c1 += k1; c2 += k - k1
      val l = k
      val b2 = 2 * (c1 + c2) - l
      val den = (b2 * (2 * nn - b2) - nn * l).toDouble
      val num1 = nn * (2 * c1 - k1) - n1 * b2
      val num2 = nn * (2 * c2 - (k - k1)) - n2 * b2
      t1s += r6v((BigInt(num1) * BigInt(num1) * BigInt(l)).toDouble / den)
      t2s += r6v((BigInt(num2) * BigInt(num2) * BigInt(l)).toDouble / den)
    }
    def dsum(xs: List[Double]) = xs
      .map(BigDecimal(_).setScale(12, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    val a2 = ((nn - 1).toDouble / (nn * nn).toDouble) *
      (dsum(t1s.result()) / n1.toDouble + dsum(t2s.result()) / n2.toDouble)
    val row = graft.operators.Stats.queries("a114_anderson_darling")(
      spark, sf).collect().head
    assert(row.getLong(0) == n1 && row.getLong(1) == n2)
    assert(row.getDouble(2) == a2, "a2_akn matches the sequential sweep")
    assert(a2 > 0, "vacuous: identical samples")
  }

  test("a115 Hellinger/BC match a sequential binned recompute") {
    import org.apache.spark.sql.functions.col
    def r6v(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cut = java.time.Instant.parse("2024-01-16T00:00:00Z").toEpochMilli
    val rows = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("value"), col("ts")).collect()
      .map(r => (r.getString(0), r.getDouble(1),
        r.getTimestamp(2).getTime < cut))
    val vmin = rows.map(_._2).min; val vmax = rows.map(_._2).max
    def bin(v: Double) =
      math.min(math.floor((v - vmin) / (vmax - vmin) * 10).toLong, 9L)
    val got = graft.operators.Stats.queries("a115_hellinger")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
         r.getDouble(5))).toMap
    val types = rows.map(_._1).distinct.sorted
    assert(got.keySet == types.toSet)
    types.foreach { t =>
      val sub = rows.filter(_._1 == t)
      val na = sub.count(_._3).toLong
      val nb = sub.length.toLong - na
      val terms = (0L to 9L).map { b =>
        val ca = sub.count(e => e._3 && bin(e._2) == b).toLong
        val cb = sub.count(e => !e._3 && bin(e._2) == b).toLong
        val pa = (ca + 1).toDouble / (na + 10).toDouble
        val pb = (cb + 1).toDouble / (nb + 10).toDouble
        r6v(math.sqrt(pa * pb))
      }
      val bc = terms
        .map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      val (gna, gnb, gbc, gh, gb) = got(t)
      assert(gna == na && gnb == nb, s"$t frame")
      assert(gbc == bc, s"$t bc")
      assert(gh == math.sqrt(math.max(0.0, 1.0 - bc)), s"$t hellinger")
      assert(gb == r6v(-math.log(bc)), s"$t bhattacharyya")
      assert(gbc > 0 && gbc <= 1.0 + 1e-6 && gh >= 0 && gh < 1, s"$t bounds")
    }
  }

  test("w50 EMV and w51 Ultimate Oscillator match sequential recomputes") {
    import org.apache.spark.sql.functions._
    def r6v(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val evs = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getAs[Long]("event_id"), r.getAs[Double]("value"),
        r.getAs[Long]("qty")))
    val byType = evs.groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
      val close = es.maxBy(e => (e._3, e._4))._5
      (t, day, es.map(_._5).max, es.map(_._5).min, close, es.map(_._6).sum)
    }.toSeq.groupBy(_._1).map { case (t, cs) => t -> cs.sortBy(_._2) }
    // W50 EMV
    val gotEmv = graft.operators.Windows.queries("w50_emv")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    var nEmv = 0
    byType.foreach { case (t, cs) =>
      val emvs = scala.collection.mutable.ArrayBuffer[(String, Long, Double)]()
      cs.indices.foreach { i =>
        if (i >= 1 && cs(i)._6 > 0) {
          val (h, l, vol) = (cs(i)._3, cs(i)._4, cs(i)._6)
          val midPrev = (cs(i - 1)._3 + cs(i - 1)._4) / 2.0
          val emv = ((h + l) / 2.0 - midPrev) * (h - l) * 10000.0 /
            vol.toDouble
          emvs += ((cs(i)._2, vol, emv))
        }
      }
      emvs.indices.foreach { j =>
        if (j >= 4) {
          val sma = emvs.slice(j - 4, j + 1).map(e => BigDecimal(r6v(e._3))
            .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / 5
          assert(gotEmv((t, emvs(j)._1)) ==
            ((emvs(j)._2, emvs(j)._3, sma)), s"$t ${emvs(j)._1}")
          nEmv += 1
        } else assert(!gotEmv.contains((t, emvs(j)._1)), "gate")
      }
    }
    assert(nEmv > 0)
    // W51 Ultimate Oscillator
    val gotUo = graft.operators.Windows.queries("w51_ultimate_osc")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        r.getDouble(2)).toMap
    var nUo = 0
    byType.foreach { case (t, cs) =>
      val bt = (1 until cs.length).map { i =>
        val (h, l, c, pc) = (cs(i)._3, cs(i)._4, cs(i)._5, cs(i - 1)._5)
        (cs(i)._2, c - math.min(l, pc), math.max(h, pc) - math.min(l, pc))
      }
      def psum(xs: Seq[Double]) = xs.map(BigDecimal(_)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      bt.indices.foreach { j =>
        if (j >= 11) {
          val a3 = psum(bt.slice(j - 2, j + 1).map(_._2)) /
            psum(bt.slice(j - 2, j + 1).map(_._3))
          val a6 = psum(bt.slice(j - 5, j + 1).map(_._2)) /
            psum(bt.slice(j - 5, j + 1).map(_._3))
          val a12 = psum(bt.slice(j - 11, j + 1).map(_._2)) /
            psum(bt.slice(j - 11, j + 1).map(_._3))
          val uo = 100.0 * (4.0 * a3 + 2.0 * a6 + a12) / 7.0
          assert(gotUo((t, bt(j)._1)) == uo, s"$t ${bt(j)._1}")
          nUo += 1
        }
      }
    }
    assert(nUo > 0)
  }

  test("w52 ADX matches a sequential directional-movement recompute") {
    import org.apache.spark.sql.functions._
    def r6v(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def psum(xs: Seq[Double], sc: Int) = xs.map(BigDecimal(_)
      .setScale(sc, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    val candles = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts"))).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, es.map(_._3).max, es.map(_._3).min)
      }.toSeq.groupBy(_._1).map { case (t, cs) => t -> cs.sortBy(_._2) }
    val got = graft.operators.Windows.queries("w52_adx")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    var n = 0
    candles.foreach { case (t, cs) =>
      val m = (1 until cs.length).map { i =>
        val (h, l, ph, pl) = (cs(i)._3, cs(i)._4, cs(i - 1)._3, cs(i - 1)._4)
        val up = h - ph; val dn = pl - l
        (cs(i)._2,
          if (up > dn && up > 0) up else 0.0,
          if (dn > up && dn > 0) dn else 0.0,
          math.max(h, ph) - math.min(l, pl))
      }
      val dxRows = m.indices.flatMap { j =>
        if (j >= 5) {
          val str = psum(m.slice(j - 5, j + 1).map(_._4), 12)
          if (str > 0) {
            val dip = 100.0 * psum(m.slice(j - 5, j + 1).map(_._2), 12) / str
            val dim = 100.0 * psum(m.slice(j - 5, j + 1).map(_._3), 12) / str
            if (dip + dim > 0)
              Some((m(j)._1, dip, dim,
                100.0 * math.abs(dip - dim) / (dip + dim)))
            else None
          } else None
        } else None
      }
      dxRows.indices.foreach { j =>
        if (j >= 5) {
          val adx = dxRows.slice(j - 5, j + 1)
            .map(r => BigDecimal(r6v(r._4))
              .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / 6
          val (day, dip, dim, dx) = dxRows(j)
          assert(got((t, day)) == ((dip, dim, dx, adx)), s"$t $day")
          n += 1
        } else assert(!got.contains((t, dxRows(j)._1)), "adx gate")
      }
    }
    assert(n > 0)
  }


  test("a116 Dixon Q matches a sequential order-statistic recompute") {
    import org.apache.spark.sql.functions._
    def dpin(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val daily = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts"))).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, dpin(es.map(_._3).toSeq) / es.size)
      }.toSeq.groupBy(_._1)
    val got = graft.operators.Stats.queries("a116_dixon_q")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
         r.getDouble(5), r.getBoolean(6), r.getBoolean(7))).toMap
    daily.foreach { case (t, ds) =>
      val sorted = ds.sortBy(e => (e._3, e._2))
      val x1 = sorted.head._3; val x2 = sorted(1)._3
      val revSorted = ds.sortBy(e => (e._3, e._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse,
          Ordering.String.reverse))
      val xn = revSorted.head._3; val xn1 = revSorted(1)._3
      if (xn > x1) {
        val (n, gx1, gxn, ql, qh, lo, hi) = got(t)
        assert(n == ds.size.toLong && gx1 == x1 && gxn == xn, s"$t picks")
        assert(ql == (x2 - x1) / (xn - x1), s"$t q_low")
        assert(qh == (xn - xn1) / (xn - x1), s"$t q_high")
        assert(lo == (ql > 0.260) && hi == (qh > 0.260), s"$t verdicts")
        assert(ql >= 0 && ql <= 1 && qh >= 0 && qh <= 1, s"$t bounds")
      } else assert(!got.contains(t), s"$t zero-range gate")
    }
    assert(got.nonEmpty)
  }

  test("a117 two-way ANOVA matches a sequential factorial recompute") {
    import org.apache.spark.sql.functions._
    def dpin(xs: Seq[Double], sc: Int): Double =
      xs.map(BigDecimal(_).setScale(sc, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    def r6v(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val panel = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts"))).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, dpin(es.map(_._3).toSeq, 10) / es.size)
      }.toSeq
    val days = panel.map(_._2).distinct.sorted
    def phase(day: String) = days.indexOf(day).toLong % 3
    val n = panel.size.toLong
    val gmean = dpin(panel.map(_._3), 10) / n
    def ssOf[K](key: ((String, String, Double)) => K): (Long, Double) = {
      val gs = panel.groupBy(key)
      (gs.size.toLong, dpin(gs.values.toSeq.map { ms =>
        val dev = dpin(ms.map(_._3), 10) / ms.size - gmean
        r6v(ms.size * dev * dev)
      }, 10))
    }
    val (aL, ssA) = ssOf(_._1)
    val (bL, ssB) = ssOf(e => phase(e._2))
    val (nCells, ssCells) = ssOf(e => (e._1, phase(e._2)))
    val ssE = dpin(panel.groupBy(e => (e._1, phase(e._2))).values.toSeq
      .map { ms =>
        val sc = dpin(ms.map(_._3), 10)
        val qc = dpin(ms.map(m => m._3 * m._3), 8)
        val cm = sc / ms.size
        r6v(qc - ms.size * cm * cm)
      }, 10)
    val row = graft.operators.Stats.queries("a117_two_way_anova")(
      spark, sf).collect().head
    assert(row.getLong(0) == aL && row.getLong(1) == bL &&
      row.getLong(2) == n)
    assert(math.abs(row.getDouble(3) - ssA) < 1e-9, "ss_a")
    assert(math.abs(row.getDouble(4) - ssB) < 1e-9, "ss_b")
    assert(math.abs(row.getDouble(5) - (ssCells - ssA - ssB)) < 1e-9,
      "ss_ab")
    assert(math.abs(row.getDouble(6) - ssE) < 1e-9, "ss_e")
    val mse = ssE / (n - nCells)
    assert(math.abs(row.getDouble(7) - ssA / (aL - 1) / mse) < 1e-9, "f_a")
    assert(math.abs(row.getDouble(8) - ssB / (bL - 1) / mse) < 1e-9, "f_b")
    // the balanced design: every (type, phase) cell holds the same
    // number of days
    val cellSizes = panel.groupBy(e => (e._1, phase(e._2))).values
      .map(_.size).toSet
    assert(cellSizes.size == 1, s"unbalanced cells: $cellSizes")
    assert(row.getDouble(6) > 0, "vacuous: zero within-cell variance")
  }

  test("a81/a82 DW and DF match a sequential OLS recompute") {
    import org.apache.spark.sql.functions._
    def dec(x: Double, sc: Int): BigDecimal =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP)
    // daily means via the same decimal discipline
    val daily = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, es.map(e => dec(e._3, 10)).sum.toDouble / es.size)
      }.toSeq.groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2) }
    val epoch = java.time.LocalDate.parse("2024-01-01")
    val dwQ = graft.operators.Stats.queries("a81_durbin_watson")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val dfQ = graft.operators.Stats.queries("a82_dickey_fuller")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(dwQ.nonEmpty && dfQ.nonEmpty)
    daily.foreach { case (t, ds) =>
      // A81: OLS on (day index, daily mean), DW over residuals
      val xs = ds.map(r => java.time.temporal.ChronoUnit.DAYS.between(
        epoch, java.time.LocalDate.parse(r._2.take(10))).toDouble)
      val ys = ds.map(_._3)
      val n = xs.size
      val sx = xs.sum; val sxx = xs.map(x => x * x).sum
      val sy = ys.map(dec(_, 10)).sum.toDouble
      val sxy = xs.zip(ys).map { case (x, y) => dec(x * y, 8) }.sum.toDouble
      val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val alpha = (sy - beta * sx) / n
      val es = xs.zip(ys).map { case (x, y) => y - (alpha + beta * x) }
      val num = es.sliding(2).collect { case Seq(a, b) =>
        dec((b - a) * (b - a), 8) }.sum.toDouble
      val den = es.map(e => dec(e * e, 8)).sum.toDouble
      assert(dwQ(t) == ((n.toLong, beta, num / den)), s"$t dw")
      // A82: Δy on lagged level
      val xl = ys.dropRight(1); val dy = ys.sliding(2).map(p =>
        p(1) - p(0)).toSeq
      val n2 = xl.size
      val sx2 = xl.map(dec(_, 10)).sum.toDouble
      val sy2 = dy.map(dec(_, 10)).sum.toDouble
      val sxx2 = xl.map(v => dec(v * v, 8)).sum.toDouble
      val sxy2 = xl.zip(dy).map { case (a, b) => dec(a * b, 8) }.sum.toDouble
      val b2 = (n2 * sxy2 - sx2 * sy2) / (n2 * sxx2 - sx2 * sx2)
      val a2 = (sy2 - b2 * sx2) / n2
      val sse = xl.zip(dy).map { case (x, y) =>
        val e = y - (a2 + b2 * x); dec(e * e, 8) }.sum.toDouble
      val t2 = b2 / math.sqrt((sse / (n2 - 2)) /
        (sxx2 - sx2 * sx2 / n2))
      assert(dfQ(t) == ((n2.toLong, b2, t2)), s"$t df")
    }
  }

  test("w30/a83/a84 pivots, Hodges-Lehmann and Grubbs match sequential sweeps") {
    import org.apache.spark.sql.functions._
    def dec(x: Double, sc: Int): BigDecimal =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP)
    val daily = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        val ord = es.sortBy(e => (e._3.getTime, e._4))
        (t, day, ord.map(_._5).max, ord.map(_._5).min, ord.last._5,
          es.map(e => dec(e._5, 10)).sum.toDouble / es.size)
      }.toSeq.groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2) }
    // W30: levels from the prior candle
    val piv = graft.operators.Windows.queries("w30_pivot_points")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
         r.getDouble(6))).toMap
    assert(piv.nonEmpty)
    daily.foreach { case (t, ds) =>
      ds.sliding(2).foreach {
        case Seq(p, c) =>
          val pp = (p._3 + p._4 + p._5) / 3
          assert(piv((t, c._2)) == ((pp, 2.0 * pp - p._4, 2.0 * pp - p._3,
            pp + (p._3 - p._4), pp - (p._3 - p._4))), s"$t ${c._2} pivots")
        case _ => ()
      }
    }
    // A83: median of Walsh averages (i <= j), interpolated percentile
    val hl = graft.operators.Stats.queries("a83_hodges_lehmann")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    daily.foreach { case (t, ds) =>
      val ys = ds.map(_._6)
      val walsh = for {
        i <- ys.indices; j <- i until ys.size
      } yield (ys(i) + ys(j)) / 2
      val exp = (ys.size.toLong, walsh.size.toLong,
        math.rint(median(ys) * 1e6) / 1e6,
        math.rint(median(walsh) * 1e6) / 1e6)
      val g = hl(t)
      assert(g._1 == exp._1 && g._2 == exp._2, s"$t counts")
      assert(math.abs(g._3 - exp._3) < 1e-9 &&
             math.abs(g._4 - exp._4) < 1e-9, s"$t: $g vs $exp")
      // robustness golden: HL sits between median and mean influence —
      // both estimates are finite and near the data's center
      assert(g._4 >= ys.min && g._4 <= ys.max, s"$t hl in range")
    }
    // A84: pinned moments, deterministic argmax, raw G
    val gr = graft.operators.Stats.queries("a84_grubbs")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.get(2).toString, r.getDouble(3), r.getDouble(4),
         r.getDouble(5))).toMap
    daily.foreach { case (t, ds) =>
      val ys = ds.map(_._6)
      val n = ys.size
      val s1 = ys.map(dec(_, 10)).sum.toDouble
      val s2 = ys.map(v => dec(v * v, 8)).sum.toDouble
      val mu = s1 / n
      val sd = math.sqrt((s2 - s1 * s1 / n) / (n - 1))
      val worst = ds.map(d => (math.abs(d._6 - mu), d._2, d._6))
        .sortBy(x => (-x._1, x._2)).head
      assert(gr(t) == ((n.toLong, worst._2, worst._3, mu, worst._1 / sd)),
        s"$t grubbs")
    }
  }

  test("a85/a86 Cook's distance and Breusch-Pagan match sequential OLS sweeps") {
    import org.apache.spark.sql.functions._
    // Spark's double→decimal cast rounds the SHORTEST repr
    // (BigDecimal.valueOf), not the exact binary expansion — the
    // recompute must mirror that (one signup e² sat exactly where the
    // two readings part ways at scale 8)
    def dec(x: Double, sc: Int): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(sc, BigDecimal.RoundingMode.HALF_UP)
    val daily = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, es.map(e => dec(e._3, 10)).sum.toDouble / es.size)
      }.toSeq.groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2) }
    val epoch = java.time.LocalDate.parse("2024-01-01")
    val ck = graft.operators.Stats.queries("a85_cooks_distance")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    val bp = graft.operators.Stats.queries("a86_breusch_pagan")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(ck.nonEmpty && bp.nonEmpty)
    val pTwin = graft.operators.Stats.queries("a86_bp_pvalue")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    var flagged = 0
    daily.foreach { case (t, ds) =>
      val xs = ds.map(r => java.time.temporal.ChronoUnit.DAYS.between(
        epoch, java.time.LocalDate.parse(r._2.take(10))).toDouble)
      val ys = ds.map(_._3)
      val n = xs.size
      val sx = xs.sum; val sxx = xs.map(x => x * x).sum
      val sy = ys.map(dec(_, 10)).sum.toDouble
      val sxy = xs.zip(ys).map { case (x, y) => dec(x * y, 8) }.sum.toDouble
      val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val alpha = (sy - beta * sx) / n
      val xbar = sx / n
      val sxxC = sxx - sx * sx / n
      val es = xs.zip(ys).map { case (x, y) => y - (alpha + beta * x) }
      val sse = es.map(e => dec(e * e, 8)).sum.toDouble
      val s2 = sse / (n - 2)
      // A85 per day
      ds.indices.foreach { i =>
        val h = 1.0 / n + (xs(i) - xbar) * (xs(i) - xbar) / sxxC
        val dcook = es(i) * es(i) * h / (2.0 * s2 * (1.0 - h) * (1.0 - h))
        val infl = dcook > 4.0 / n
        if (infl) flagged += 1
        assert(ck((t, ds(i)._2)) == ((es(i), h, dcook, infl)),
          s"$t ${ds(i)._2} cook")
      }
      // A86: auxiliary e² on x
      val us = es.map(e => e * e)
      val su = us.map(dec(_, 8)).sum.toDouble
      val sxu = xs.zip(us).map { case (x, u) => dec(x * u, 6) }.sum.toDouble
      val suu = us.map(u => dec(u * u, 4)).sum.toDouble
      val sxyC = sxu - sx * su / n
      val syyC = suu - su * su / n
      val r2 = sxyC * sxyC / (sxxC * syyC)
      val lm = n * r2
      assert(bp(t) == ((n.toLong, r2, lm, lm > 3.841458820694124)),
        s"$t bp")
      // p twin anchors to the golden-tested χ²₁ kernel on this LM
      assertSeriesP(pTwin(t),
        graft.functions.StudentT.chiSqPValue(lm, 1.0), s"a86 $t")
      assert(pTwin(t) >= 0.0 && pTwin(t) <= 1.0, s"$t p")
    }
    assert(flagged > 0, "vacuous: no influential day anywhere")
  }

  test("a87 Friedman matches sequential blocked midranks; ties exercised") {
    import org.apache.spark.sql.functions._
    def seqFriedman(days: Seq[Seq[(String, Double)]])
        : (Map[String, Double], Double) = {
      val k = days.head.size
      val n = days.size
      val ranks = days.flatMap { cells =>
        cells.map { case (t, y) =>
          val less = cells.count(_._2 < y)
          val eq = cells.count(_._2 == y)
          t -> ((less + 1) + (eq - 1) / 2.0)
        }
      }
      val rs = ranks.groupBy(_._1).map { case (t, xs) =>
        t -> xs.map(_._2).sum }
      val rsq = ranks.map(r => r._2 * r._2).sum
      val num = rs.values.map(r => (r - n * (k + 1) / 2.0) *
        (r - n * (k + 1) / 2.0)).sum
      val den = rsq - n.toDouble * k * (k + 1) * (k + 1) / 4
      (rs, (k - 1) * num / den)
    }
    // planted fixture: 3 types × 4 days, within-day ties on days 2/4
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("friedman-fix")
    val plant = Seq(
      ("2024-01-01", Seq("a" -> 1.0, "b" -> 2.0, "c" -> 3.0)),
      ("2024-01-02", Seq("a" -> 2.0, "b" -> 2.0, "c" -> 5.0)),
      ("2024-01-03", Seq("a" -> 1.0, "b" -> 4.0, "c" -> 2.0)),
      ("2024-01-04", Seq("a" -> 3.0, "b" -> 3.0, "c" -> 3.0)))
    plant.zipWithIndex.flatMap { case ((day, cells), i) =>
      cells.zipWithIndex.map { case ((t, v), j) =>
        ((i * 10 + j).toLong,
          java.sql.Timestamp.valueOf(s"$day 12:00:00"),
          j.toLong, t, v, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val (rsP, qP) = seqFriedman(plant.map(_._2))
    val gotP = Stats.queries("a87_friedman")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(5))).toMap
    rsP.foreach { case (t, r) =>
      assert(gotP(t)._1 == r && gotP(t)._2 == qP, s"fixture $t")
    }
    // sf sweep: recompute from the (day, type) decimal daily means
    val cells = graft.Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg((sum(col("value").cast("decimal(24,10)")).cast("double") /
        count(lit(1))).as("y"))
      .collect().map(r => (r.get(0).toString, r.getString(1),
        r.getDouble(2)))
    val k = cells.map(_._2).distinct.size
    val full = cells.groupBy(_._1).filter(_._2.size == k).toSeq
      .sortBy(_._1).map(_._2.map(c => (c._2, c._3)).toSeq)
    val (rs, q) = seqFriedman(full)
    val got = Stats.queries("a87_friedman")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3), r.getDouble(5))).toMap
    rs.foreach { case (t, r) =>
      assert(got(t) == ((full.size.toLong, r, q)), s"$t sf sweep")
    }
    // p twin anchors to the golden χ² kernel at df = k−1, fed the
    // RAW sequential Q; the twin's 6-dp series output must sit within
    // one grid step of the rounded kernel
    val p = Stats.queries("a87_friedman_pvalue")(spark, sf).head()
    val pRef = math.rint(graft.functions.StudentT.chiSqPValue(
      q, (k - 1).toDouble) * 1e6) / 1e6
    assert(math.abs(p.getDouble(4) - pRef) <= 1e-6 &&
      p.getDouble(4) >= 0 && p.getDouble(4) <= 1)
  }

  test("a88 Tukey pairs match a sequential pooled-variance recompute") {
    def dec(x: Double, sc: Int): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(sc, BigDecimal.RoundingMode.HALF_UP)
    val vals = graft.Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val moments = vals.map { case (t, xs) =>
      val n = xs.size
      val s1 = xs.map(dec(_, 10)).sum.toDouble
      val s2 = xs.map(v => dec(v * v, 8)).sum.toDouble
      (t, n, s1 / n, s2 - s1 * s1 / n)
    }.toSeq.sortBy(_._1)
    val k = moments.size
    val nTot = moments.map(_._2).sum
    val msw = moments.map(m => dec(m._4, 4)).sum.toDouble / (nTot - k)
    val expect = (for {
      (ta, na, ma, _) <- moments; (tb, nb, mb, _) <- moments; if ta < tb
    } yield {
      val se = math.sqrt(msw / 2 * (1.0 / na + 1.0 / nb))
      (ta, tb, na.toLong, nb.toLong, ma - mb, se, math.abs(ma - mb) / se)
    }).toSet
    val got = graft.operators.Stats.queries("a88_tukey_pairs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toSet
    assert(got == expect && got.size == k * (k - 1) / 2,
      s"got ${got.size} vs expect ${expect.size}")
  }

  test("a89 Dunn pairs match sequential midranks; p twin anchored") {
    import org.apache.spark.sql.functions._
    val vals = graft.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    // sequential exact midranks over the pooled sample
    val byVal = vals.groupBy(_._2).toSeq.sortBy(_._1)
    var below = 0L
    val rankOf = byVal.map { case (v, g) =>
      val r = below + (g.length + 1) / 2.0
      below += g.length
      v -> r
    }.toMap
    val t3 = byVal.map(_._2.length.toLong)
      .map(t => t * t * t - t).sum
    val n = vals.length.toLong
    val groups = vals.groupBy(_._1).map { case (t, xs) =>
      (t, xs.length.toLong, xs.map(x => rankOf(x._2)).sum / xs.length)
    }.toSeq.sortBy(_._1)
    val v = n.toDouble * (n + 1) / 12 - t3.toDouble / (12.0 * (n - 1))
    val expect = (for {
      (ta, na, ra) <- groups; (tb, nb, rb) <- groups; if ta < tb
    } yield (ta, tb, na, nb,
      (ra - rb) / math.sqrt(v * (1.0 / na + 1.0 / nb)))).toSeq
    val got = graft.operators.Stats.queries("a89_dunn_pairs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(6)))
    assert(got.nonEmpty && got.length == expect.length)
    got.sortBy(g => (g._1, g._2)).zip(expect).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3 && g._4 == e._4,
        s"$g vs $e")
      // the query's mean ranks come through the doubled-rank integer
      // path; the sequential sum-of-doubles path agrees to fp noise
      assert(math.abs(g._5 - e._5) < 1e-9, s"z $g vs $e")
    }
    // p twin: χ²₁ identity + Bonferroni m, from the query's own z
    val zq = graft.operators.Stats.queries("a89_dunn_pairs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(6)).toMap
    val m = zq.size.toDouble
    val pv = graft.operators.Stats.queries("a89_dunn_pvalue")(spark, sf)
      .collect()
    assert(pv.length == zq.size)
    pv.foreach { r =>
      val z = zq((r.getString(0), r.getString(1)))
      val kp = graft.functions.StudentT.chiSqPValue(z * z, 1.0)
      assertSeriesP(r.getDouble(3), kp,
        s"a89 ${r.getString(0)}/${r.getString(1)}")
      val pbRef = math.min(1.0, kp * m)
      if (pbRef < 5e-7) assert(r.getDouble(4) <= 5e-7)
      else assert(math.abs(r.getDouble(4) - pbRef) <= 1e-8,
        s"${r.getString(0)}/${r.getString(1)} bonferroni")
    }
  }

  test("a73 Kruskal–Wallis on planted ties matches sequential midranks") {
    // sf values are continuous, so the tie machinery needs a planted
    // fixture: 3 groups with cross-group AND within-group ties
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("kw-fix")
    val groups = Map(
      "click" -> Seq(1.0, 2.0, 2.0, 3.0),
      "purchase" -> Seq(2.0, 3.0, 3.0, 5.0),
      "error" -> Seq(5.0, 1.0))
    groups.toSeq.flatMap { case (t, vs) => vs.map((t, _)) }
      .zipWithIndex
      .map { case ((t, v), i) => (i.toLong,
        new java.sql.Timestamp(i.toLong * 1000L), i.toLong, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val row = Stats.queries("a73_kruskal_wallis")(spark, d).head()
    val (k, n, hq, htq) = (row.getLong(0), row.getLong(1),
      row.getDouble(2), row.getDouble(3))
    assert(k == 3 && n == 10)
    // sequential textbook recompute: midranks over the pooled sample
    val all = groups.toSeq.flatMap { case (t, vs) => vs.map((t, _)) }
    val byV = all.groupBy(_._2).toSeq.sortBy(_._1)
    var below = 0L; var t3 = 0L
    val midrank = byV.map { case (v, g) =>
      val c = g.size
      val mr = below + (c + 1) / 2.0
      below += c; t3 += c.toLong * c * c - c
      v -> mr
    }.toMap
    val rg = all.groupBy(_._1).map { case (t, xs) =>
      t -> (xs.size, xs.map(x => midrank(x._2)).sum) }
    val s = rg.values.map { case (ng, r) => r * r / ng }.sum
    val h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    val hTied = h / (1.0 - t3.toDouble / (n.toDouble * n * n - n))
    assert(t3 > 0, "vacuous: fixture has no ties")
    assert(math.abs(hq - h) <= 1e-6, s"h $hq vs sequential $h")
    assert(math.abs(htq - hTied) <= 1e-6, s"h_tied $htq vs $hTied")
    // p twin anchors to the oracle-checked h_tied through χ²_{k−1}
    val p = Stats.queries("a73_kw_pvalue")(spark, d).head()
    assert(p.getDouble(0) == htq && p.getDouble(1) == 2.0)
    val pRef = math.rint(
      graft.functions.StudentT.chiSqPValue(htq, 2.0) * 1e6) / 1e6
    assert(math.abs(p.getDouble(2) - pRef) <= 1e-6 &&
      p.getDouble(2) >= 0 && p.getDouble(2) <= 1)
  }

  test("a74 Levene W equals a sequential recomputation at sf0.001") {
    import org.apache.spark.sql.functions._
    val row = Stats.queries("a74_levene")(spark, sf).head()
    val (k, n, wq) = (row.getLong(0), row.getLong(1), row.getDouble(4))
    val vals = graft.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(k == vals.map(_._1).distinct.size && n == vals.length)
    // mirror the decimal(30,12) pinning: each double quantized at 12
    // decimals (HALF_UP — Spark's decimal cast mode), summed exactly
    def dsum(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val groups = vals.groupBy(_._1).toSeq.sortBy(_._1)
    val mus = groups.map { case (g, xs) =>
      g -> dsum(xs.map(_._2).toSeq) / xs.length }.toMap
    val gstats = groups.map { case (g, xs) =>
      val z = xs.map(x => math.abs(x._2 - mus(g))).toSeq
      (g, xs.length.toLong, dsum(z), dsum(z.map(v => v * v)))
    }
    var sumS = 0.0; var sumQn = 0.0; var sumQ = 0.0
    gstats.foreach { case (_, ng, sg, qg) =>
      sumS += sg; sumQn += sg * sg / ng; sumQ += qg }
    val ssb = sumQn - sumS * sumS / n
    val ssw = sumQ - sumQn
    val w = (ssb / (k - 1)) / (ssw / (n - k))
    assert(math.abs(wq - math.rint(w * 1e6) / 1e6) <= 1e-6,
      s"W $wq vs sequential $w")
    // p twin anchors to the oracle-checked W through the F kernel
    val p = Stats.queries("a74_levene_pvalue")(spark, sf).head()
    assert(p.getDouble(0) == wq)
    val pRef = BigDecimal(graft.functions.StudentT.fPValue(wq,
        (k - 1).toDouble, (n - k).toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // pinned chain vs early-exit kernel: ≤ ~1e-14 raw, one 6-dp grid
    // step after rounding (PinnedBetaSpec)
    assert(math.abs(p.getDouble(3) - pRef) <= 1e-6 &&
      p.getDouble(3) >= 0.0 && p.getDouble(3) <= 1.0,
      s"p=${p.getDouble(3)} vs kernel=$pRef")
  }

  test("a99 Brown-Forsythe equals a sequential median-centered recompute") {
    import org.apache.spark.sql.functions._
    val row = Stats.queries("a99_brown_forsythe")(spark, sf).head()
    val (k, n, bf) = (row.getLong(0), row.getLong(1), row.getDouble(4))
    val vals = graft.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(k == vals.map(_._1).distinct.size && n == vals.length)
    def dsum(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val idx = 0.5 * (s.size - 1)
      val lo = s(idx.toInt); val hi = s(math.ceil(idx).toInt)
      lo + (hi - lo) * (idx - idx.toInt)
    }
    val groups = vals.groupBy(_._1).toSeq.sortBy(_._1)
    val gstats = groups.map { case (g, xs) =>
      val md = medianOf(xs.map(_._2).toSeq)
      val z = xs.map(x => math.abs(x._2 - md)).toSeq
      (g, xs.length.toLong, dsum(z), dsum(z.map(v => v * v)))
    }
    var sumS = 0.0; var sumQn = 0.0; var sumQ = 0.0
    gstats.foreach { case (_, ng, sg, qg) =>
      sumS += sg; sumQn += sg * sg / ng; sumQ += qg }
    val ssb = sumQn - sumS * sumS / n
    val ssw = sumQ - sumQn
    val w = (ssb / (k - 1)) / (ssw / (n - k))
    assert(math.abs(bf - math.rint(w * 1e6) / 1e6) <= 1e-6,
      s"BF $bf vs sequential $w")
    // the median-centered statistic must differ from the
    // mean-centered a74 (same data, different centers) — otherwise
    // the variant is vacuous on this corpus
    val w74 = Stats.queries("a74_levene")(spark, sf).head().getDouble(4)
    assert(bf != w74, "BF identical to Levene — vacuous fixture")
  }

  private def dailyCandles(): Map[String, Seq[(String, Double, Double, Double)]] = {
    import org.apache.spark.sql.functions._
    graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        val ord = es.sortBy(e => (e._3.getTime, e._4))
        // flat 5-tuple, NOT (t, (..)): mapping a Map to pairs would
        // re-key by t and silently keep one day per type
        (t, day, ord.map(_._5).max, ord.map(_._5).min, ord.last._5)
      }.toSeq.groupBy(_._1)
      .map { case (t, rs) =>
        t -> rs.map(r => (r._2, r._3, r._4, r._5)).sortBy(_._1) }
  }

  test("w31/w32 CCI and Aroon match sequential candle sweeps bit-exactly") {
    // CCI: the engine's frame sums are left folds over the ORDERED
    // frame (aggregate HOF), so the sequential recompute must fold in
    // the same order — then every double matches bit-for-bit
    val candles = dailyCandles()
    val cci = graft.operators.Windows.queries("w31_cci")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(cci.nonEmpty)
    var n1 = 0
    candles.foreach { case (t, ds) =>
      val tp3 = ds.map { case (day, h, l, c) => (day, h + l + c) }
      tp3.sliding(20).foreach { win =>
        if (win.size == 20) {
          val xs = win.map(_._2)
          val sma = xs.foldLeft(0.0)(_ + _) / 20
          val md = xs.foldLeft(0.0)((a, x) => a + math.abs(x - sma)) / 20
          val exp = (sma, md, (win.last._2 - sma) / (0.015 * md))
          assert(cci((t, win.last._1)) == exp, s"$t ${win.last._1} cci")
          n1 += 1
        }
      }
    }
    assert(n1 > 0 && n1 == cci.size, s"swept $n1 of ${cci.size}")
    // Aroon: most-recent extreme wins ties (position in the REVERSED
    // 15-row frame); integer days_since → exact division chain
    val ar = graft.operators.Windows.queries("w32_aroon")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
         r.getDouble(6))).toMap
    assert(ar.nonEmpty)
    var n2 = 0
    candles.foreach { case (t, ds) =>
      ds.sliding(15).foreach { win =>
        if (win.size == 15) {
          val hs = win.map(_._2); val ls = win.map(_._3)
          val dsh = hs.reverse.indexOf(hs.max).toLong
          val dsl = ls.reverse.indexOf(ls.min).toLong
          val up = 100.0 * (14L - dsh) / 14.0
          val dn = 100.0 * (14L - dsl) / 14.0
          assert(ar((t, win.last._1)) == ((dsh, dsl, up, dn, up - dn)),
            s"$t ${win.last._1} aroon")
          n2 += 1
        }
      }
    }
    assert(n2 > 0 && n2 == ar.size, s"swept $n2 of ${ar.size}")
  }

  test("a90/a91 runs test and Cochran Q match sequential recomputes") {
    val candles = dailyCandles()
    val closes = candles.map { case (t, ds) =>
      t -> ds.map { case (day, _, _, c) => (day, c) } }
    // A90: median split (interpolated even-count median = mean of the
    // two middle order statistics — Spark percentile's definition),
    // ties excluded, runs counted over the surviving day order
    val rt = graft.operators.Stats.queries("a90_runs_test")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rt.nonEmpty)
    closes.foreach { case (t, ds) =>
      val ys = ds.map(_._2).sorted
      val m = ys.size
      val med = if (m % 2 == 1) ys(m / 2) else (ys(m / 2 - 1) + ys(m / 2)) / 2
      val sgn = ds.map(_._2).filter(_ != med).map(c => if (c > med) 1 else 0)
      val n1 = sgn.count(_ == 1).toLong
      val n2 = sgn.count(_ == 0).toLong
      if (n1 > 0 && n2 > 0) {
        val runs = 1L + sgn.sliding(2).count {
          case Seq(a, b) => a != b; case _ => false }
        val n = n1 + n2
        val t2 = 2.0 * n1 * n2
        val mu = t2 / n + 1
        val vr = t2 * (t2 - n) / (n * n * (n - 1)).toDouble
        val z = (runs - mu) / math.sqrt(vr)
        assert(rt(t) == ((n1, n2, runs, z)), s"$t runs")
      } else assert(!rt.contains(t), s"$t degenerate split must drop")
    }
    // A91: up/down flags, complete blocks only, integer totals → Q
    val q = graft.operators.Stats.queries("a91_cochran_q")(spark, sf)
      .collect()
    assert(q.length == 1)
    val flags = closes.toSeq.flatMap { case (t, ds) =>
      ds.sliding(2).collect { case Seq((_, p), (day, c)) =>
        (day, t, if (c > p) 1L else 0L) }
    }
    val k = flags.map(_._2).distinct.size.toLong
    val byDay = flags.groupBy(_._1).filter(_._2.size == k)
    val nBlocks = byDay.size.toLong
    val b2 = byDay.values.map(v => { val b = v.map(_._3).sum; b * b }).sum
    val gj = byDay.values.flatten.groupBy(_._2)
      .map(_._2.map(_._3).sum).toSeq
    val nn = gj.sum
    val g2 = gj.map(g => g * g).sum
    val qExp = (k - 1).toDouble * (k * g2 - nn * nn).toDouble /
      (k * nn - b2).toDouble
    val row = q.head
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getDouble(3)) == ((k, nBlocks, nn, qExp)))
    // the statistic is nonnegative and finite on this panel
    assert(qExp >= 0.0 && java.lang.Double.isFinite(qExp))
  }

  test("w33-w37 indicator family matches sequential candle sweeps") {
    def dpin(scale: Int)(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(scale, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    import org.apache.spark.sql.functions._
    // (t, day, high, low, close, vol) in day order per series
    val days = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"), r.getAs[Long]("qty")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        val ord = es.sortBy(e => (e._3.getTime, e._4))
        (t, day, ord.map(_._5).max, ord.map(_._5).min, ord.last._5,
          ord.map(_._6).sum)
      }.toSeq.groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).toList
      }
    def fetch(name: String) =
      graft.operators.Windows.queries(name)(spark, sf).collect()
    // W33 Williams %R: exact envelope extremes, one division
    val wr = fetch("w33_williams_r").map(r =>
      (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3),
         if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(wr.nonEmpty)
    var nWr = 0
    days.foreach { case (t, ds) =>
      ds.sliding(14).foreach { win =>
        if (win.size == 14) {
          val hh = win.map(_._3).max; val ll = win.map(_._4).min
          val exp = if (hh != ll)
            Some(-100.0 * (hh - win.last._5) / (hh - ll)) else None
          assert(wr((t, win.last._2)) == ((hh, ll, exp)),
            s"$t ${win.last._2} pct_r")
          nWr += 1
        }
      }
    }
    assert(nWr > 0 && nWr == wr.size)
    // W34 Keltner: pinned SMA sums rendered once, band adds after
    val ke = fetch("w34_keltner").map(r =>
      (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    var nKe = 0
    days.foreach { case (t, ds) =>
      ds.sliding(10).foreach { win =>
        if (win.size == 10) {
          val center = dpin(10)(win.map(c => c._3 + c._4 + c._5)) / 30
          val band = dpin(10)(win.map(c => c._3 - c._4)) / 10
          assert(ke((t, win.last._2)) ==
            ((center, center + band, center - band)),
            s"$t ${win.last._2} keltner")
          nKe += 1
        }
      }
    }
    assert(nKe > 0 && nKe == ke.size)
    // W35 Ulcer: dd wrt the per-row trailing 14-day close max (the
    // ramp-in frames), then the full-window pinned dd² mean
    val ul = fetch("w35_ulcer").map(r =>
      (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    var nUl = 0
    days.foreach { case (t, ds) =>
      val closes = ds.map(c => (c._2, c._5))
      val dds = closes.zipWithIndex.map { case ((day, c), i) =>
        val m = closes.slice(math.max(0, i - 13), i + 1).map(_._2).max
        (day, 100.0 * (c - m) / m)
      }
      dds.sliding(14).foreach { win =>
        if (win.size == 14) {
          val ulcer = math.sqrt(dpin(8)(win.map(d => d._2 * d._2)) / 14)
          assert(ul((t, win.last._1)) == ((win.last._2, ulcer)),
            s"$t ${win.last._1} ulcer")
          nUl += 1
        }
      }
    }
    assert(nUl > 0 && nUl == ul.size)
    // W36 Vortex: raw movement/TR chains, three pinned frame sums
    val vx = fetch("w36_vortex").map(r =>
      (r.getString(0), r.get(1).toString) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)),
         if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    var nVx = 0
    days.foreach { case (t, ds) =>
      val ms = ds.sliding(2).collect { case List(p, c) =>
        (c._2, math.abs(c._3 - p._4), math.abs(c._4 - p._3),
          math.max(c._3 - c._4,
            math.max(math.abs(c._3 - p._5), math.abs(c._4 - p._5))))
      }.toList
      ms.sliding(14).foreach { win =>
        if (win.size == 14) {
          val sTr = dpin(10)(win.map(_._4))
          val vip = if (sTr != 0.0) Some(dpin(10)(win.map(_._2)) / sTr)
                    else None
          val vim = if (sTr != 0.0) Some(dpin(10)(win.map(_._3)) / sTr)
                    else None
          assert(vx((t, win.last._1)) == ((vip, vim)),
            s"$t ${win.last._1} vortex")
          nVx += 1
        }
      }
    }
    assert(nVx > 0 && nVx == vx.size)
    // W37 CMF + A/D: raw mfm·vol, pinned(28,4) frame/running sums,
    // integer volume denominator
    val cm = fetch("w37_cmf").map(r =>
      (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2),
         if (r.isNullAt(3)) None else Some(r.getDouble(3)),
         r.getDouble(4))).toMap
    var nCm = 0
    days.foreach { case (t, ds) =>
      val ms = ds.map { c =>
        val mfm = if (c._3 != c._4)
          ((c._5 - c._4) - (c._3 - c._5)) / (c._3 - c._4) else 0.0
        (c._2, mfm * c._6.toDouble, c._6)
      }
      ms.zipWithIndex.foreach { case ((day, _, _), i) =>
        val win = ms.slice(math.max(0, i - 19), i + 1)
        val ad = dpin(4)(ms.take(i + 1).map(_._2))
        val cmf = if (win.size == 20 && win.map(_._3).sum != 0L)
          Some(dpin(4)(win.map(_._2)) / win.map(_._3).sum) else None
        assert(cm((t, day)) == ((ms(i)._2, cmf, ad)), s"$t $day cmf")
        nCm += 1
      }
    }
    assert(nCm > 0 && nCm == cm.size)
  }

  test("w38/w39 momentum-volume pair matches sequential candle sweeps") {
    def dpin(scale: Int)(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(scale, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    import org.apache.spark.sql.functions._
    val days = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"), r.getAs[Long]("qty")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        val ord = es.sortBy(e => (e._3.getTime, e._4))
        (t, day, ord.last._5, ord.map(_._6).sum)
      }.toSeq.groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).toList
      }
    // W38 CMO: raw IEEE deltas, pinned gain/loss frame sums
    val cmo = graft.operators.Windows.queries("w38_cmo")(spark, sf)
      .collect().map(r =>
        (r.getString(0), r.get(1).toString) ->
          (r.getDouble(2), r.getDouble(3),
           if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    var nCmo = 0
    days.foreach { case (t, ds) =>
      val deltas = ds.sliding(2).collect {
        case List(p, c) => (c._2, c._3 - p._3)
      }.toList
      deltas.sliding(14).foreach { win =>
        if (win.size == 14) {
          val su = dpin(12)(win.map(d => math.max(d._2, 0.0)))
          val sd = dpin(12)(win.map(d => math.max(-d._2, 0.0)))
          val exp = if (su + sd != 0.0)
            Some(100.0 * (su - sd) / (su + sd)) else None
          assert(cmo((t, win.last._1)) == ((su, sd, exp)),
            s"$t ${win.last._1} cmo")
          nCmo += 1
        }
      }
    }
    assert(nCmo > 0 && nCmo == cmo.size)
    // W39 force index: raw delta·vol, pinned(28,4) 13-frame sum
    val fi = graft.operators.Windows.queries("w39_force_index")(spark, sf)
      .collect().map(r =>
        (r.getString(0), r.get(1).toString) ->
          (r.getDouble(2), r.getDouble(3))).toMap
    var nFi = 0
    days.foreach { case (t, ds) =>
      val fis = ds.sliding(2).collect {
        case List(p, c) => (c._2, (c._3 - p._3) * c._4.toDouble)
      }.toList
      fis.sliding(13).foreach { win =>
        if (win.size == 13) {
          val f13 = dpin(4)(win.map(_._2))
          assert(fi((t, win.last._1)) == ((win.last._2, f13)),
            s"$t ${win.last._1} force index")
          nFi += 1
        }
      }
    }
    assert(nFi > 0 && nFi == fi.size)
  }

  test("w40-w43 detrend/ppo/stochrsi/trix match sequential daily-mean sweeps") {
    def dpin(scale: Int)(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(scale, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    import org.apache.spark.sql.functions._
    // per-type day-ordered daily MEAN px (the W19/W20 series: exact
    // decimal sum → one double render → IEEE divide by count)
    val px = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[Double]("value")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, dpin(10)(es.map(_._3).toSeq) / es.size)
      }.toSeq.groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).map(r => (r._2, r._3)).toList
      }
    // W40 DPO: displaced SMA
    val dpo = graft.operators.Windows.queries("w40_dpo")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    var nDpo = 0
    px.foreach { case (t, ds) =>
      ds.indices.foreach { i =>
        if (i >= 19) {
          val win = ds.slice(i - 19, i + 1).map(_._2)
          val sma = dpin(12)(win) / 20
          val ref = ds(i - 11)._2
          assert(dpo((t, ds(i)._1)) == ((ds(i)._2, sma, ref - sma)),
            s"$t ${ds(i)._1} dpo")
          nDpo += 1
        }
      }
    }
    assert(nDpo > 0 && nDpo == dpo.size)
    // W41 PPO: truncated-EWMA cascade, left-associated sums
    def mw(span: Int, j: Int): Double =
      math.pow((span - 1.0) / (span + 1.0), j)
    def ewmaAt(series: List[Double], i: Int, span: Int): Double = {
      var num = 0.0; var den = 0.0
      (0 until 24).foreach { j =>
        if (i - j >= 0) { num += mw(span, j) * series(i - j)
          den += mw(span, j) }
        else { num += 0.0; den += 0.0 }
      }
      num / den
    }
    val ppo = graft.operators.Windows.queries("w41_ppo")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    px.foreach { case (t, ds) =>
      val s = ds.map(_._2)
      val pline = s.indices.map(i =>
        100.0 * (ewmaAt(s, i, 12) - ewmaAt(s, i, 26)) /
          ewmaAt(s, i, 26)).toList
      s.indices.foreach { i =>
        val sig = ewmaAt(pline, i, 9)
        assert(ppo((t, ds(i)._1)) == ((pline(i), sig, pline(i) - sig)),
          s"$t ${ds(i)._1} ppo")
      }
    }
    assert(ppo.nonEmpty)
    // W42 StochRSI: the W19 chain then the %K fold over RSI itself
    val sr = graft.operators.Windows.queries("w42_stochrsi")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    // W43 TRIX: three left-associated cascades then the ratio
    val trix = graft.operators.Windows.queries("w43_trix")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    px.foreach { case (t, ds) =>
      def cascade(series: List[Double]): List[Double] =
        series.indices.map(i => ewmaAt(series, i, 15)).toList
      val t3 = cascade(cascade(cascade(ds.map(_._2))))
      (1 until ds.size).foreach { i =>
        val exp = 100.0 * (t3(i) - t3(i - 1)) / t3(i - 1)
        assert(trix((t, ds(i)._1)) == ((t3(i), exp)),
          s"$t ${ds(i)._1} trix")
      }
    }
    assert(trix.nonEmpty)
    var nSr = 0
    px.foreach { case (t, ds) =>
      val deltas = ds.sliding(2).collect {
        case List(p, c) => (c._1, c._2 - p._2)
      }.toList
      val rsis = deltas.sliding(14).collect {
        case win if win.size == 14 =>
          val sg = dpin(12)(win.map(d => math.max(d._2, 0.0)))
          val sl = dpin(12)(win.map(d => math.max(-d._2, 0.0)))
          (win.last._1,
            if (sl == 0.0) 100.0
            else 100.0 - 100.0 / (1.0 + (sg / 14) / (sl / 14)))
      }.toList
      rsis.sliding(14).foreach { win =>
        if (win.size == 14) {
          val mn = win.map(_._2).min; val mx = win.map(_._2).max
          if (mx > mn) {
            val exp = (win.last._2 - mn) / (mx - mn)
            assert(sr((t, win.last._1)) == ((win.last._2, exp)),
              s"$t ${win.last._1} stochrsi")
            nSr += 1
          } else assert(!sr.contains((t, win.last._1)))
        }
      }
    }
    assert(nSr > 0 && nSr == sr.size)
  }

  test("a100/a101 partial correlation and Kendall's W anchor to their parents") {
    import org.apache.spark.sql.functions._
    // A101: the identity W = Q/(m(k-1)) against the oracle-checked
    // a87 row, plus the [0, 1] range contract
    val fr = Stats.queries("a87_friedman")(spark, sf).head()
    val (nDays, k87, q87) =
      (fr.getLong(1), fr.getLong(2), fr.getDouble(5))
    val kw = Stats.queries("a101_kendalls_w")(spark, sf).head()
    assert(kw.getLong(0) == k87 && kw.getLong(1) == nDays)
    assert(kw.getDouble(2) == q87)
    assert(kw.getDouble(3) == q87 / (nDays * (k87 - 1)).toDouble)
    assert(kw.getDouble(3) >= 0.0 && kw.getDouble(3) <= 1.0,
      s"W out of range: ${kw.getDouble(3)}")
    // A100: sequential recompute of the three r6'd correlations and
    // the partial chain on the daily (x = mean value, y = vol,
    // z = day index) panel
    def dpin(scale: Int)(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(scale, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val epoch = java.time.LocalDate.parse("2024-01-01").toEpochDay
    val daily = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("day").getTime / 86400000L - epoch,
        r.getAs[Double]("value"), r.getAs[Long]("qty")))
      .groupBy(e => (e._1, e._2)).map { case ((t, z), es) =>
        (t, z, dpin(10)(es.map(_._3).toSeq) / es.size,
          es.map(_._4).sum)
      }.toSeq.groupBy(_._1)
    val got = Stats.queries("a100_partial_corr")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
         r.getDouble(5))).toMap
    daily.foreach { case (t, rows) =>
      val n = rows.size
      val xs = rows.map(_._3).toSeq
      val ys = rows.map(_._4.toDouble).toSeq
      val zs = rows.map(_._2.toDouble).toSeq
      def r6v(v: Double) = math.rint(v * 1e6) / 1e6
      def corr(a: Seq[Double], b: Seq[Double], sa: Double, sb: Double,
          saa: Double, sbb: Double, sab: Double): Double =
        r6v((n * sab - sa * sb) /
          math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)))
      val (sx, sy, sz) = (dpin(12)(xs), ys.sum, zs.sum)
      val sxx = dpin(12)(xs.map(x => x * x))
      val (syy, szz) = (ys.map(y => y * y).sum, zs.map(z => z * z).sum)
      val sxy = dpin(8)(xs.zip(ys).map(p => p._1 * p._2))
      val sxz = dpin(8)(xs.zip(zs).map(p => p._1 * p._2))
      val syz = ys.zip(zs).map(p => p._1 * p._2).sum
      val rxy = corr(xs, ys, sx, sy, sxx, syy, sxy)
      val rxz = corr(xs, zs, sx, sz, sxx, szz, sxz)
      val ryz = corr(ys, zs, sy, sz, syy, szz, syz)
      val den = (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
      if (den > 0) {
        val pr = (rxy - rxz * ryz) / math.sqrt(den)
        val g = got(t)
        assert(g._1 == n.toLong, s"$t n")
        // the r6'd inputs must match within one 1e-6 grid step (the
        // spec recompute can't replay Spark's exact moment-merge
        // order; the ORACLE hash already proves exact equality)
        assert(math.abs(g._2 - rxy) <= 1e-6 &&
               math.abs(g._3 - rxz) <= 1e-6 &&
               math.abs(g._4 - ryz) <= 1e-6, s"$t correlations")
        assert(math.abs(g._5 - pr) <= 1e-5, s"$t partial")
        // non-vacuity: partialling the trend out must CHANGE the
        // association (the corpus series all carry a drift)
        assert(g._5 != g._2, s"$t partial == raw, vacuous control")
      } else assert(!got.contains(t))
    }
    assert(got.nonEmpty)
  }

  test("a92-a94 paired/rank tests match sequential recomputations") {
    import org.apache.spark.sql.functions._
    // per-type day-ordered (close, vol) panel
    val days = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"), r.getAs[Long]("qty")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        val ord = es.sortBy(e => (e._3.getTime, e._4))
        (t, day, ord.last._5, ord.map(_._6).sum)
      }.toSeq.groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).toList
      }
    // A92 McNemar: discordant up-day pairs, exact integers
    val mc = graft.operators.Stats.queries("a92_mcnemar")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
         r.getDouble(4), r.getDouble(5))).toMap
    days.foreach { case (t, ds) =>
      val pairs = ds.sliding(2).collect { case List(p, c) =>
        (if (c._3 > p._3) 1 else 0, if (c._4 > p._4) 1 else 0)
      }.toList
      val b = pairs.count(p => p._1 == 1 && p._2 == 0).toLong
      val c = pairs.count(p => p._1 == 0 && p._2 == 1).toLong
      if (b + c > 0) {
        val chi2 = ((b - c) * (b - c)).toDouble / (b + c)
        val cc = ((math.abs(b - c) - 1) * (math.abs(b - c) - 1)).toDouble /
          (b + c)
        assert(mc(t) == ((pairs.size.toLong, b, c, chi2, cc)), s"$t mcnemar")
      } else assert(!mc.contains(t))
    }
    assert(mc.nonEmpty)
    // A102 odds ratio / relative risk on the same 2×2 panel
    val orr = graft.operators.Stats.queries("a102_odds_ratio")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8),
         r.getDouble(9))).toMap
    days.foreach { case (t, ds) =>
      val pairs = ds.sliding(2).collect { case List(p, c) =>
        (if (c._3 > p._3) 1 else 0, if (c._4 > p._4) 1 else 0)
      }.toList
      val a = pairs.count(p => p._1 == 1 && p._2 == 1).toLong
      val b = pairs.count(p => p._1 == 1 && p._2 == 0).toLong
      val c = pairs.count(p => p._1 == 0 && p._2 == 1).toLong
      val dd = pairs.count(p => p._1 == 0 && p._2 == 0).toLong
      if (a > 0 && b > 0 && c > 0 && dd > 0) {
        val or = (a * dd).toDouble / (b * c).toDouble
        val rr = (a * (c + dd)).toDouble / (c * (a + b)).toDouble
        val se = math.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd)
        def r6v(v: Double) = math.rint(v * 1e6) / 1e6
        val got = orr(t)
        assert(got._1 == a && got._2 == b && got._3 == c && got._4 == dd)
        assert(got._5 == or && got._6 == rr, s"$t or/rr")
        assert(math.abs(got._7 - r6v(math.log(or))) <= 1e-6 &&
          math.abs(got._8 - r6v(math.exp(math.log(or) - 1.96 * se)))
            <= 1e-6 &&
          math.abs(got._9 - r6v(math.exp(math.log(or) + 1.96 * se)))
            <= 1e-6, s"$t CI")
        // the CI must bracket the point estimate
        assert(got._8 < got._5 && got._5 < got._9, s"$t CI order")
      } else assert(!orr.contains(t))
    }
    assert(orr.nonEmpty)
    // A93 Wilcoxon signed-rank: ×2-midrank integers, fixed z chain
    val wx = graft.operators.Stats.queries("a93_wilcoxon_signed")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    days.foreach { case (t, ds) =>
      val dd = ds.sliding(2).collect { case List(p, c) => c._3 - p._3 }
        .toList.filter(_ != 0.0)
      if (dd.nonEmpty) {
        val ad = dd.map(math.abs)
        val sorted = ad.sorted
        def rank2(a: Double): Long = {
          val lt = sorted.count(_ < a).toLong
          val eq = sorted.count(_ == a).toLong
          2 * (lt + 1) + eq - 1
        }
        val n = dd.size.toLong
        val w2 = dd.filter(_ > 0).map(d => rank2(math.abs(d))).sum
        val tcorr = ad.map(a => {
          val t2 = sorted.count(_ == a).toLong; t2 * t2 - 1
        }).sum
        val z = ((2 * w2 - n * (n + 1)).toDouble / 4) /
          math.sqrt((2 * n * (n + 1) * (2 * n + 1) - tcorr).toDouble / 48)
        val got = wx(t)
        assert(got._1 == n && got._2 == w2.toDouble / 2 && got._3 == z,
          s"$t wilcoxon: got=$got exp=($n, ${w2.toDouble / 2}, $z)")
      }
    }
    assert(wx.nonEmpty)
    // A94 Kendall τ-b: five integer pair counts, one sqrt chain
    val kt = graft.operators.Stats.queries("a94_kendall_tau")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getLong(5), r.getDouble(6))).toMap
    days.foreach { case (t, ds) =>
      val pts = ds.map(d => (d._3, d._4))
      val prs = for {
        i <- pts.indices; j <- (i + 1) until pts.size
      } yield (pts(i), pts(j))
      val n0 = prs.size.toLong
      val conc = prs.count { case ((xa, ya), (xb, yb)) =>
        (xa < xb && ya < yb) || (xa > xb && ya > yb) }.toLong
      val disc = prs.count { case ((xa, ya), (xb, yb)) =>
        (xa < xb && ya > yb) || (xa > xb && ya < yb) }.toLong
      val tx = prs.count { case ((xa, _), (xb, _)) => xa == xb }.toLong
      val ty = prs.count { case ((_, ya), (_, yb)) => ya == yb }.toLong
      if (n0 > tx && n0 > ty) {
        val tau = (conc - disc).toDouble /
          math.sqrt((n0 - tx).toDouble * (n0 - ty).toDouble)
        assert(kt(t) == ((n0, conc, disc, tx, ty, tau)), s"$t kendall")
      } else assert(!kt.contains(t))
    }
    assert(kt.nonEmpty)
  }

  test("a95-a98 median/sign/effect-size tests match sequential recomputes") {
    import org.apache.spark.sql.functions._
    val days = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Any]("day").toString,
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"), r.getAs[Long]("qty")))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        val ord = es.sortBy(e => (e._3.getTime, e._4))
        (t, day, ord.last._5, ord.map(_._6).sum)
      }.toSeq.groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).toList
      }
    // A95 Mood's median: exact interpolated grand median, per-type
    // integer cells, the same fixed 2-term contribution chain
    val allCloses = days.values.flatten.map(_._3).toSeq.sorted
    val med = {
      val idx = 0.5 * (allCloses.size - 1)
      val lo = allCloses(idx.toInt)
      val hi = allCloses(math.ceil(idx).toInt)
      lo + (hi - lo) * (idx - idx.toInt)
    }
    val cells = days.map { case (t, ds) =>
      t -> (ds.count(_._3 > med).toLong, ds.count(_._3 < med).toLong)
    }
    val ta = cells.values.map(_._1).sum
    val tb = cells.values.map(_._2).sum
    val nn = ta + tb
    val mm = graft.operators.Stats.queries("a95_mood_median")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getDouble(5), r.getDouble(6))).toMap
    cells.foreach { case (t, (na, nb)) =>
      val ng = na + nb
      val ea = (ng * ta).toDouble / nn
      val eb = (ng * tb).toDouble / nn
      val contrib = (na - ea) * (na - ea) / ea + (nb - eb) * (nb - eb) / eb
      assert(mm(t) == ((na, nb, ta, tb, ea, contrib)), s"$t mood")
    }
    assert(mm.size == cells.size && mm.nonEmpty)
    // A96 sign test: integer numerator over one sqrt
    val st = graft.operators.Stats.queries("a96_sign_test")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    days.foreach { case (t, ds) =>
      val dd = ds.sliding(2).collect { case List(p, c) => c._3 - p._3 }
        .toList.filter(_ != 0.0)
      val pos = dd.count(_ > 0).toLong
      val neg = dd.count(_ < 0).toLong
      val n = pos + neg
      if (n > 0) {
        val num2 = 2 * pos - n
        val z = (num2 - num2.sign).toDouble / math.sqrt(n.toDouble)
        assert(st(t) == ((pos, neg, n, z)), s"$t sign test")
      }
    }
    assert(st.nonEmpty)
    // A97 Cliff's delta: brute-force pairwise sign count vs the
    // rank-frame derivation (the two must agree EXACTLY — the
    // integer-grid identity, not an approximation)
    val vals = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("value"), (col("event_type") === "click").as("g1"))
      .collect().map(r => (r.getDouble(0), r.getBoolean(1)))
    val xs = vals.filter(_._2).map(_._1)
    val ys = vals.filterNot(_._2).map(_._1)
    var numPairs = 0L
    xs.foreach(x => ys.foreach { y =>
      if (x > y) numPairs += 1 else if (x < y) numPairs -= 1
    })
    val den = xs.length.toLong * ys.length
    val expDelta = numPairs.toDouble / den.toDouble
    val expMag =
      if (math.abs(numPairs) * 1000 < den * 147) "negligible"
      else if (math.abs(numPairs) * 1000 < den * 330) "small"
      else if (math.abs(numPairs) * 1000 < den * 474) "medium"
      else "large"
    val cd = graft.operators.Stats.queries("a97_cliffs_delta")(spark, sf)
      .collect()
    assert(cd.length == 1)
    assert(cd(0).getLong(0) == xs.length.toLong &&
      cd(0).getLong(1) == ys.length.toLong)
    assert(cd(0).getDouble(2) == expDelta,
      s"delta ${cd(0).getDouble(2)} != $expDelta")
    assert(cd(0).getString(3) == expMag)
    // A98 gamma / Somers' D from the same pair counts as a94
    val gs = graft.operators.Stats.queries("a98_gamma_somers")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getLong(5), r.getDouble(6), r.getDouble(7), r.getDouble(8)))
      .toMap
    days.foreach { case (t, ds) =>
      val pts = ds.map(d => (d._3, d._4))
      val prs = for {
        i <- pts.indices; j <- (i + 1) until pts.size
      } yield (pts(i), pts(j))
      val n0 = prs.size.toLong
      val conc = prs.count { case ((xa, ya), (xb, yb)) =>
        (xa < xb && ya < yb) || (xa > xb && ya > yb) }.toLong
      val disc = prs.count { case ((xa, ya), (xb, yb)) =>
        (xa < xb && ya > yb) || (xa > xb && ya < yb) }.toLong
      val tx = prs.count { case ((xa, _), (xb, _)) => xa == xb }.toLong
      val ty = prs.count { case ((_, ya), (_, yb)) => ya == yb }.toLong
      if (conc + disc > 0 && n0 > tx && n0 > ty) {
        val gamma = (conc - disc).toDouble / (conc + disc).toDouble
        val dyx = (conc - disc).toDouble / (n0 - tx).toDouble
        val dxy = (conc - disc).toDouble / (n0 - ty).toDouble
        assert(gs(t) == ((n0, conc, disc, tx, ty, gamma, dyx, dxy)),
          s"$t gamma/somers")
      } else assert(!gs.contains(t))
    }
    assert(gs.nonEmpty)
  }

  test("a103 Theil's U matches a sequential entropy recompute; asymmetric in [0,1]") {
    import org.apache.spark.sql.functions.{col, dayofweek}
    val sf = SparkTestSession.Sf0001
    val pairs = graft.Tables.events(spark, sf)
      .select(col("event_type"), dayofweek(col("ts")).as("dow"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val t = pairs.length.toDouble
    def r6v(v: Double) = math.rint(v * 1e6) / 1e6
    def ent(ks: Iterable[Int]): Double =
      ks.map(k => r6v(-(k / t) * math.log(k / t))).sum
    val hx = ent(pairs.groupBy(_._1).values.map(_.size))
    val hy = ent(pairs.groupBy(_._2).values.map(_.size))
    val hxy = ent(pairs.groupBy(identity).values.map(_.size))
    val row = graft.operators.Stats.queries("a103_theils_u")(spark, sf)
      .collect().head
    assert(math.abs(row.getDouble(0) - hx) <= 5e-6, "h_type")
    assert(math.abs(row.getDouble(1) - hy) <= 5e-6, "h_dow")
    assert(math.abs(row.getDouble(2) - hxy) <= 5e-6, "h_joint")
    val uxy = (hx + hy - hxy) / hx
    val uyx = (hx + hy - hxy) / hy
    assert(math.abs(row.getDouble(3) - uxy) <= 1e-5, "u_type_given_dow")
    assert(math.abs(row.getDouble(4) - uyx) <= 1e-5, "u_dow_given_type")
    // both U's live in [0,1]: MI is nonnegative and ≤ min(H(X), H(Y))
    assert(row.getDouble(3) >= -1e-9 && row.getDouble(3) <= 1 + 1e-9)
    assert(row.getDouble(4) >= -1e-9 && row.getDouble(4) <= 1 + 1e-9)
    // asymmetry is the operator's point: H(type) ≠ H(dow) here, so
    // the two directions must report different coefficients
    assert(row.getDouble(3) != row.getDouble(4),
      "corpus entropies collided; the asymmetry claim needs new columns")
  }

  test("a118 Chow F matches a sequential two-segment OLS recompute") {
    import org.apache.spark.sql.functions._
    val sf = SparkTestSession.Sf0001
    // the pinned daily panel, collected once (small: days × types)
    val panel = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(24,10)")).cast("double") /
        count(lit(1))).as("y"))
      .withColumn("x", datediff(col("day"), lit("2024-01-01")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(2)))
    def ssr(pts: Seq[(Long, Double)]): Option[Double] = {
      val n = pts.size
      val sx = pts.map(_._1).sum; val sxx = pts.map(p => p._1 * p._1).sum
      val sy = pts.map(_._2).sum; val syy = pts.map(p => p._2 * p._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxxc = sxx.toDouble - sx.toDouble * sx / n
      if (sxxc <= 0) None
      else Some(syy - sy * sy / n -
        (sxy - sx.toDouble * sy / n) * (sxy - sx.toDouble * sy / n) / sxxc)
    }
    val got = Stats.queries("a118_chow")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.nonEmpty)
    panel.groupBy(_._1).foreach { case (t, rows) =>
      val pts = rows.map(r => (r._2, r._3)).toSeq
      val (s1, s2) = pts.partition(_._1 < 15)
      val r = got(t)
      assert(r.getLong(1) == pts.size && r.getLong(2) == s1.size &&
        r.getLong(3) == s2.size, s"$t sizes")
      // sequential float sums differ from the engine's decimal-pinned
      // renders only in summation order — compare at 1e-6
      for ((want, i) <- Seq(ssr(pts) -> 4, ssr(s1) -> 5, ssr(s2) -> 6))
        want match {
          case Some(w) =>
            assert(math.abs(r.getDouble(i) - w) <= 1e-6 * math.max(1, w.abs),
              s"$t ssr col $i")
          case None => assert(r.isNullAt(i), s"$t null ssr col $i")
        }
      (ssr(pts), ssr(s1), ssr(s2)) match {
        case (Some(sp), Some(sa), Some(sb))
            if pts.size > 4 && math.min(s1.size, s2.size) >= 3 &&
              sa + sb > 0 =>
          val f = ((sp - sa - sb) / 2) / ((sa + sb) / (pts.size - 4))
          assert(math.abs(r.getDouble(7) - f) <= 1e-4 * math.max(1, f.abs),
            s"$t chow_f")
          // pooled SSR can never undercut the sum of segment fits
          assert(r.getDouble(7) >= -1e-6, s"$t F nonneg")
        case _ => assert(r.isNullAt(7), s"$t null F")
      }
    }
  }
  test("a120 D'Agostino K2 matches a sequential recompute on a skewed fixture") {
    // exponential-ish planted skew: the transforms' every branch is
    // exercised (g1 > 0, b2 far from 3) and the sequential recompute
    // follows the published chain verbatim, single-threaded
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("a120-fix")
    val vals = (1 to 40).map(i => math.pow(1.18, i))  // skewed growth
    vals.zipWithIndex
      .map { case (v, i) => (i.toLong,
        new java.sql.Timestamp(i.toLong * 1000L), i.toLong, "click",
        math.rint(v * 1e6) / 1e6, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val row = Stats.queries("a120_dagostino_k2")(spark, d).head()
    val xs = vals.map(v => math.rint(v * 1e6) / 1e6)
    val n = xs.size.toDouble
    val mu = xs.sum / n
    val m2 = xs.map(x => (x - mu) * (x - mu)).sum / n
    val m3 = xs.map(x => math.pow(x - mu, 3)).sum / n
    val m4 = xs.map(x => math.pow(x - mu, 4)).sum / n
    val g1 = m3 / math.pow(m2, 1.5)
    val b2 = m4 / (m2 * m2)
    // D'Agostino skewness z
    val y = g1 * math.sqrt((n + 1) * (n + 3) / (6 * (n - 2)))
    val beta2 = 3 * (n * n + 27 * n - 70) * (n + 1) * (n + 3) /
      ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    val w2 = math.sqrt(2 * (beta2 - 1)) - 1
    val dlt = 1 / math.sqrt(math.log(math.sqrt(w2)))
    val alpha = math.sqrt(2 / (w2 - 1))
    val z1 = dlt * math.log(y / alpha + math.sqrt(y / alpha * (y / alpha) + 1))
    // Anscombe-Glynn kurtosis z
    val eb2 = 3 * (n - 1) / (n + 1)
    val vb2 = 24 * n * (n - 2) * (n - 3) / ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    val xx = (b2 - eb2) / math.sqrt(vb2)
    val sb1 = 6 * (n * n - 5 * n + 2) / ((n + 3) * (n + 5)) *
      math.sqrt(6 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    val aa = 6 + 8 / sb1 * (2 / sb1 + math.sqrt(1 + 4 / (sb1 * sb1)))
    val dnm = 1 + xx * math.sqrt(2 / (aa - 4))
    val z2 = ((1 - 2 / (9 * aa)) - math.cbrt((1 - 2 / aa) / dnm)) /
      math.sqrt(2 / (9 * aa))
    val k2 = z1 * z1 + z2 * z2
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(math.abs(row.getDouble(row.fieldIndex("skewness")) - r6(g1)) <= 2e-6,
      s"skew ${row.getDouble(2)} vs $g1")
    assert(math.abs(row.getDouble(row.fieldIndex("z_skew")) - r6(z1)) <= 2e-6,
      s"z1 ${row.getDouble(4)} vs $z1")
    assert(math.abs(row.getDouble(row.fieldIndex("z_kurt")) - r6(z2)) <= 2e-6,
      s"z2 ${row.getDouble(5)} vs $z2")
    assert(math.abs(row.getDouble(row.fieldIndex("k2_stat")) - r6(k2)) <= 5e-6,
      s"k2 ${row.getDouble(6)} vs $k2")
    // a genuinely skewed sample must REJECT where a67's asymptotic JB
    // also rejects -- and both p's live on the same closed chi2_2 form
    assert(row.getDouble(row.fieldIndex("p_value")) < 0.05)
    assert(g1 > 1.0, "fixture must actually be skewed")
  }

  test("w54 heikin-ashi equals a sequential candle recursion") {
    val candles = graft.operators.Windows.queries("w16_ohlc_candles")(
        spark, sf).collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2).toList }
    val got = graft.operators.Windows.queries("w54_heikin_ashi")(spark, sf)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got.nonEmpty)
    var checked = 0
    candles.foreach { case (t, days) =>
      var ho = 0.0; var hc = 0.0; var first = true
      days.foreach { case (_, day, o, h, l, c) =>
        val hoN = if (first) (o + c) / 2.0 else (ho + hc) / 2.0
        val hcN = (((o + h) + l) + c) / 4.0
        first = false; ho = hoN; hc = hcN
        val want = (hoN, math.max(h, math.max(hoN, hcN)),
          math.min(l, math.min(hoN, hcN)), hcN)
        assert(got((t, day)) == want, s"$t $day: ${got((t, day))} vs $want")
        checked += 1
      }
    }
    assert(checked > 0, "vacuous sweep")
  }

  test("w55 parabolic SAR equals a sequential state-machine recompute") {
    val candles = graft.operators.Windows.queries("w16_ohlc_candles")(
        spark, sf).collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getDouble(3),
        r.getDouble(4)))
      .groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2).toList }
    val got = graft.operators.Windows.queries("w55_parabolic_sar")(
        spark, sf).collect()
      .map(r => (r.getString(0), r.get(1).toString) ->
        ((r.getDouble(2), r.getBoolean(3), r.getDouble(4),
          r.getDouble(5), r.getBoolean(6)))).toMap
    var checked = 0
    candles.foreach { case (t, days) =>
      var up = true; var sar = 0.0; var ep = 0.0; var af = 0.02
      var l1 = 0.0; var l2 = 0.0; var h1 = 0.0; var h2 = 0.0
      var first = true
      days.foreach { case (_, day, hi, lo) =>
        var rev = false
        if (first) {
          up = true; sar = lo; ep = hi; af = 0.02
          l1 = lo; l2 = lo; h1 = hi; h2 = hi; first = false
        } else {
          val sarP = sar + af * (ep - sar)
          val clampU = math.min(sarP, math.min(l1, l2))
          val clampD = math.max(sarP, math.max(h1, h2))
          val revU = up && lo < clampU
          val revD = !up && hi > clampD
          rev = revU || revD
          val up2 = if (revU) false else if (revD) true else up
          val sar2 = if (rev) ep else if (up) clampU else clampD
          val ep2 = if (revU) lo else if (revD) hi
            else if (up) math.max(ep, hi) else math.min(ep, lo)
          val af2 = if (rev) 0.02
            else if (up && hi > ep || !up && lo < ep)
              math.min(af + 0.02, 0.2)
            else af
          up = up2; sar = sar2; ep = ep2; af = af2
          l2 = l1; l1 = lo; h2 = h1; h1 = hi
        }
        val want = (sar, up, ep, af, rev)
        assert(got((t, day)) == want, s"$t $day: ${got((t, day))} vs $want")
        checked += 1
      }
    }
    assert(checked > 0 && got.size == checked)
    // non-vacuity: a stop must actually fire somewhere on this corpus
    assert(got.values.exists(_._5), "no reversal ever fired — vacuous")
  }

  test("a121 lilliefors equals a sequential ECDF-sup recompute") {
    import org.apache.spark.sql.functions._
    // rebuild the decimal-pinned daily means sequentially
    def dsum(xs: Seq[Double], scale: Int): Double =
      xs.map(BigDecimal(_).setScale(scale, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val daily = graft.Tables.events(spark, sf)
      .withColumn("day", date_trunc("day", col("ts")))
      .select(col("event_type"), col("day"), col("value")).collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getDouble(2)))
      .groupBy(e => (e._1, e._2)).map { case ((t, day), es) =>
        (t, day, dsum(es.map(_._3).toSeq, 10) / es.size)
      }.toSeq.groupBy(_._1)
    val got = Stats.queries("a121_lilliefors")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.nonEmpty)
    // phi via the independent quadrature kernel: erfc(t) = Q(1/2, t2)
    def phi(z: Double): Double = {
      val ec = graft.functions.StudentT.gammaQ(0.5, z * z / 2.0)
      if (z >= 0) 1.0 - 0.5 * ec else 0.5 * ec
    }
    daily.foreach { case (t, rs) =>
      val n = rs.size
      val vs = rs.map(_._3)
      val s1 = dsum(vs, 12); val s2 = dsum(vs.map(v => v * v), 12)
      val mu = s1 / n
      val vr = (s2 - s1 * s1 / n) / (n - 1.0)
      if (vr > 0 && n >= 4) {
        val sd = math.sqrt(vr)
        val sorted = rs.sortBy(e => (e._3, e._2)).zipWithIndex
        val d = sorted.map { case ((_, _, v), i) =>
          val p = phi((v - mu) / sd)
          math.max((i + 1.0) / n - p, p - i.toDouble / n)
        }.max
        val (gn, gd, gp) = got(t)
        assert(gn == n, s"$t n")
        // query phi runs the pinned erfc series; kernel gammaQ agrees
        // to ~1e-13 — D compares to that at the 6-dp grid, p (which
        // feeds on the ROUNDED d) after its exp/pow likewise
        assert(math.abs(gd - d) <= 1e-6 + 1e-10, s"$t D $gd vs $d")
        // Dallal-Wilkinson + Stephens fallback recompute from the
        // query's own rounded d (the chain input)
        val dq = gd
        val kd = if (n > 100) dq * math.pow(n / 100.0, 0.49) else dq
        val nd = if (n > 100) 100.0 else n.toDouble
        val pdw = math.exp(-7.01256 * (kd * kd) * (nd + 2.78019) +
          2.99587 * kd * math.sqrt(nd + 2.78019) - 0.122119 +
          0.974598 / math.sqrt(nd) + 1.67997 / nd)
        val kk = (math.sqrt(n.toDouble) - 0.01 +
          0.85 / math.sqrt(n.toDouble)) * dq
        val praw =
          if (pdw <= 0.1) pdw
          else if (kk <= 0.302) 1.0
          else if (kk <= 0.5) 2.76773 - 19.828315 * kk +
            80.709644 * kk * kk - 138.55152 * math.pow(kk, 3) +
            81.218052 * math.pow(kk, 4)
          else if (kk <= 0.9) -4.901232 + 40.662806 * kk -
            97.490286 * kk * kk + 94.029866 * math.pow(kk, 3) -
            32.355711 * math.pow(kk, 4)
          else if (kk <= 1.31) 6.198765 - 19.558097 * kk +
            23.186922 * kk * kk - 12.234627 * math.pow(kk, 3) +
            2.423045 * math.pow(kk, 4)
          else 0.0
        val want = math.min(1.0, math.max(0.0, praw))
        assert(math.abs(gp - want) <= 2e-6, s"$t p $gp vs $want")
        assert(gp >= 0.0 && gp <= 1.0 && gd >= 0.0 && gd <= 1.0)
      } else assert(!got.contains(t), s"$t should have been dropped")
    }
  }
}
