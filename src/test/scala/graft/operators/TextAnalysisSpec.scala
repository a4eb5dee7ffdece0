package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkTestSession, Tables}

/** Cross-anchor for the rows-only F7: on text whose tokens are only
  * F6-lexicon words plus out-of-lexicon fillers — no negators,
  * boosters, case mixing, punctuation, or "but" — the full VADER rule
  * engine must reduce to exactly the oracle-checked F6 lexicon sum
  * (both are Σvalence → s/sqrt(s²+15), rounded to 1e-6). This pins
  * the codegen expression path to the DuckDB-verified relational plan
  * on the rule-free subset; rule behavior itself is golden-tested in
  * VaderSpec.
  */
class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def docs(rows: (Long, String)*): String = {
    val d = SparkTestSession.fixtureDir("txt-fix")
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("f7 rule engine equals oracle-checked f6 on rule-free F6 text") {
    // every sentiment-bearing token is in the F6 set (which wins the
    // lexicon merge), fillers are in no lexicon at all
    val d = docs(
      1L -> "good fast query",
      2L -> "bad slow scan with the table",
      3L -> "merge sort hash data",
      4L -> "terrible error stream value",
      5L -> "data table row")
    val f6 = TextAnalysis.queries("f6_sentiment_lexicon")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val f7 = TextAnalysis.queries("f7_vader_rules")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(f6.keySet == f7.keySet)
    f6.foreach { case (id, c6) =>
      assert(f7(id) == c6, s"doc $id: f7=${f7(id)} vs f6=$c6")
    }
    // non-vacuous: the fixture spans positive, negative and neutral
    assert(f6(1L) > 0 && f6(2L) < 0 && f6(5L) == 0.0)
  }

  test("d17: repeated-span goldens — cross-doc counts, within-doc repeats") {
    // W = 8. doc1/doc2 share exactly their first window; doc3's one
    // window is unique; doc4 repeats one span TWICE WITHIN ITSELF
    // (occurrences count, but one distinct doc ≠ shared); doc5 is
    // below the width and must be absent
    val d = docs(
      1L -> "a b c d e f g h i",
      2L -> "a b c d e f g h x",
      3L -> "p q r s t u v w",
      4L -> "m n m n m n m n m n",
      5L -> "short doc")
    val out = TextAnalysis.queries("d17_repeated_spans")(spark, d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L) == ((2L, 1L, 0.5)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((2L, 1L, 0.5)), s"doc2: ${out(2L)}")
    assert(out(3L) == ((1L, 0L, 0.0)), s"doc3: ${out(3L)}")
    assert(out(4L) == ((3L, 0L, 0.0)), s"doc4: ${out(4L)}")
  }

  test("txt12: BM25 golden — tf, idf and length normalization by hand") {
    // N = 4 docs, avgdl = (3+2+4+1)/4 = 2.5; query = {spark, stream, dup}
    val d = docs(
      1L -> "spark spark stream",
      2L -> "spark data",
      3L -> "data table row scan",
      4L -> "dup")
    val rows = TextAnalysis.queries("txt12_bm25")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def idf(df: Long): Double = math.log((4.0 - df + 0.5) / (df + 0.5) + 1.0)
    def term(n: Long, dl: Long, df: Long): Double =
      idf(df) * (n * 2.2) / (n + 1.2 * (0.25 + 0.75 * dl / 2.5))
    val expected = Map(
      1L -> (2L, term(2, 3, 2) + term(1, 3, 1)), // spark ×2 + stream
      2L -> (1L, term(1, 2, 2)),                 // spark, shorter doc
      4L -> (1L, term(1, 1, 1)))                 // rare term, shortest doc
    assert(rows.keySet == expected.keySet)       // doc 3: no query term
    expected.foreach { case (id, (nt, sc)) =>
      assert(rows(id)._1 == nt, s"doc $id n_terms")
      assert(math.abs(rows(id)._2 - sc) < 1e-6, s"doc $id score")
    }
    // the orderings BM25 exists for: two matched terms beat one
    // (doc 1 first), rare-term idf beats common-term idf (doc 4 > doc 2)
    assert(rows(1L)._2 > rows(4L)._2 && rows(4L)._2 > rows(2L)._2)
  }

  test("txt13: entropy goldens — 0 for constant, ln k for uniform") {
    val d = docs(
      1L -> "aa aa aa aa",          // constant: H = 0
      2L -> "a b",                  // uniform over 2: H = ln 2
      3L -> "a b c d",              // uniform over 4: H = ln 4
      4L -> "a a a b")              // skewed: 0 < H < ln 2
    val rows = TextAnalysis.queries("txt13_entropy")(spark, d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows(1L) == ((4L, 1L, 0.0)))
    assert(math.abs(rows(2L)._3 - math.log(2)) < 1e-6)
    assert(math.abs(rows(3L)._3 - math.log(4)) < 1e-6)
    val h4 = rows(4L)._3
    assert(h4 > 0 && h4 < math.log(2))          // upper bound ln(distinct)
    // skewed golden: −(3/4)ln(3/4) − (1/4)ln(1/4)
    val want = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(h4 - want) < 1e-6)
  }

  test("txt5: BPE-ish pre-tokenizer splits letter runs, digit runs, punct") {
    // lower("Hello, world 123 foo!") → hello , world 123 foo !
    val d = docs(1L -> "Hello, world 123 foo!", 2L -> "aa aa")
    val rows = TextAnalysis.queries("txt5_bpe_tokens")(spark, d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows(1L) == ((6L, 6L, 3L, 1L)))  // total, unique, alpha, num
    assert(rows(2L) == ((2L, 1L, 2L, 0L)))  // dup run collapses in unique
  }

  /** Independent recomputation of TXT6's winnowing scheme: Rabin–Karp
    * over K=8 grams mod 1e9+7, min of each W=4 window.
    */
  private def winnow(text: String): Seq[Long] = {
    val t = text.trim.toLowerCase
    val hashes = (0 to t.length - 8).map { p =>
      t.substring(p, p + 8).foldLeft(0L)((h, c) => (h * 257L + c.toLong) % 1000000007L)
    }
    (0 to hashes.length - 4).map(i => hashes.slice(i, i + 4).min)
  }

  test("txt6: rolling-hash fingerprints match independent recomputation") {
    val texts = Map(
      1L -> "The quick brown fox jumps over the lazy dog",
      2L -> "  MiXeD Case With   Leading spaces  ",
      3L -> "abcdefghijk") // exactly K+W-1 = 11 chars → one window
    val d = docs(texts.toSeq: _*)
    val rows = TextAnalysis.queries("txt6_rolling_fp")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    texts.foreach { case (id, t) =>
      val fp = winnow(t)
      assert(rows(id) == ((fp.distinct.size.toLong, fp.min, fp.max)),
        s"doc $id: got ${rows(id)}, want ${(fp.distinct.size, fp.min, fp.max)}")
    }
    // normalization: case/whitespace variants fingerprint identically
    val d2 = docs(9L -> "the quick brown fox jumps over the lazy dog  ")
    val norm = TextAnalysis.queries("txt6_rolling_fp")(spark, d2).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert(norm == rows(1L))
    // too-short docs (< K+W-1) are excluded, not errored
    val d3 = docs(7L -> "tiny")
    assert(TextAnalysis.queries("txt6_rolling_fp")(spark, d3).count() == 0L)
  }

  /** The higher-order-function formulation TXT6 shipped with before the
    * codegen kernel replaced it (r7) — kept VERBATIM here as the
    * cross-check: a declarative Spark-SQL derivation of the same
    * winnowing scheme, sharing no code with RollingFp. */
  private def hofRollingFp(dir: String): DataFrame = {
    val K = 8; val W = 4; val B = 257L; val M = 1000000007L
    val txt = lower(trim(col("text")))
    Tables.documents(spark, dir)
      .filter(length(txt) >= K + W - 1)
      .select(col("doc_id"),
        slice(transform(split(txt, ""), ch => ascii(ch).cast("long")),
          lit(1), length(txt)).as("codes"))
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("codes")) - K + 1), p =>
          aggregate(sequence(lit(0), lit(K - 1)), lit(0L),
            (h, j) => (h * B + element_at(col("codes"), p + j)) % M))
          .as("hashes"))
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("hashes")) - W + 1), i =>
          array_min(slice(col("hashes"), i, lit(W)))).as("fps"))
      .select(col("doc_id"),
        size(array_distinct(col("fps"))).cast("long").as("n_fp"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
      .orderBy("doc_id")
  }

  test("txt6: codegen kernel agrees with the HOF formulation on real docs") {
    val d = SparkTestSession.Sf0001
    val kernel = TextAnalysis.queries("txt6_rolling_fp")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    val hof = hofRollingFp(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(kernel.nonEmpty)
    assert(kernel.toSeq == hof.toSeq)
  }

  test("sql17: SQL-registered functions equal their Column-API twins") {
    // the extension registration's whole point: the same expressions
    // by name from spark.sql.
    val sf = SparkTestSession.Sf0001
    val viaSql = TextAnalysis.queries("sql17_native_fn")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getDouble(4)))
    val viaCols = Tables.documents(spark, sf)
      .select(col("doc_id"),
        round(graft.functions.VaderCompound.compound(col("text")), 6),
        graft.functions.RollingFingerprint.fps(col("text")))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Long](2)))
    assert(viaSql.nonEmpty && viaSql.length == viaCols.length)
    val pConst = math.rint(graft.functions.StudentT
      .pValue(0.3, 50L) * 1e6) / 1e6
    viaSql.zip(viaCols).foreach {
      case ((id1, (c1, n1, h1, p)), (id2, (c2, f2))) =>
        assert(id1 == id2 && c1 == c2)
        assert(n1 == f2.length && h1 == f2.headOption)
        assert(p == pConst, s"pearson_pvalue const $p vs $pConst")
    }
  }

  test("txt18 kappa/F1 on a planted multilingual confusion matrix") {
    // the sf corpora are all English-vocabulary text (TXT3 predicts
    // 'en' everywhere → κ = 0 degenerately), so the kappa path needs
    // a fixture with REAL de/es stopwords and planted mislabels:
    // 5 de docs (4 German text, 1 English → off-diagonal), 3 en,
    // 2 es, 1 fr-labeled English doc (a gold class never predicted).
    // Hand confusion: diag = 9, N = 11, pe = (5·4 + 3·5 + 2·2)/121
    // → κ = (99 − 39)/(121 − 39) = 60/82
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("kappa-fix")
    val de = "der die das und ist ein"
    val en = "the and of to is a"
    val es = "el la los de es un"
    val docs = Seq(
      (0L, de, "de"), (1L, de, "de"), (2L, de, "de"), (3L, de, "de"),
      (4L, en, "de"),
      (5L, en, "en"), (6L, en, "en"), (7L, en, "en"),
      (8L, es, "es"), (9L, es, "es"),
      (10L, en, "fr"))
    docs.map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = TextAnalysis.queries("txt18_langid_eval")(spark, d)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("de", "en", "es", "fr"))
    val acc = 9.0 / 11
    val pe = 39.0 / (11.0 * 11)
    val kappa = (acc - pe) / (1.0 - pe)
    out.values.foreach { r =>
      assert(r.getDouble(7) == acc, s"accuracy ${r.getDouble(7)}")
      assert(math.abs(r.getDouble(8) - kappa) < 1e-12,
        s"kappa ${r.getDouble(8)} vs $kappa")
    }
    val deR = out("de")
    assert(deR.getLong(1) == 5 && deR.getLong(2) == 4 &&
      deR.getLong(3) == 4)
    assert(deR.getDouble(4) == 1.0 && deR.getDouble(5) == 0.8)
    assert(math.abs(deR.getDouble(6) - 2.0 * 0.8 / 1.8) < 1e-12)
    val frR = out("fr") // never predicted: all-zero metrics, not NULLs
    assert(frR.getLong(2) == 0 && frR.getDouble(4) == 0.0 &&
      frR.getDouble(6) == 0.0)
  }

  test("txt20 JSD matches sequential recompute and planted extremes") {
    val sf = SparkTestSession.Sf0001
    // sequential mirror of the spine + round12 + decimal-14 fold
    val rows = Tables.documents(spark, sf)
      .select(col("source"), lower(trim(col("text")))).collect()
      .map(r => (r.getString(0), r.getString(1).split("\\s+").toSeq))
    val sw = rows.flatMap { case (s, ws) => ws.map((s, _)) }
      .groupBy(identity).map { case (k, o) => k -> o.size.toLong }
    val ns = sw.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val cw = sw.groupBy(_._1._2).map { case (w, m) => w -> m.values.sum }
    val n = ns.values.sum
    val expect = ns.map { case (src, nS) =>
      val terms = cw.toSeq.map { case (w, cW) =>
        val p = sw.getOrElse((src, w), 0L).toDouble / nS
        val q = cW.toDouble / n
        val m = (p + q) / 2
        val t = (if (p > 0) 0.5 * p * math.log(p / m) else 0.0) +
          0.5 * q * math.log(q / m)
        BigDecimal(math.rint(t * 1e12) / 1e12)
          .setScale(14, BigDecimal.RoundingMode.HALF_UP)
      }
      src -> math.rint(terms.sum.toDouble * 1e6) / 1e6
    }
    val got = TextAnalysis.queries("txt20_jsd_drift")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got.keySet == expect.keySet && got.nonEmpty)
    got.foreach { case (s, j) =>
      assert(math.abs(j - expect(s)) <= 1e-9, s"$s: $j vs ${expect(s)}")
      assert(j >= 0.0 && j <= math.log(2.0) + 1e-9, s"$s out of [0, ln2]")
    }
    // planted extremes: a source sharing the corpus distribution
    // scores exactly 0; two equal disjoint-vocabulary sources score
    // JSD(P, ½P+½P′) = ½ln(4/3) + ¼ln(2/3) + ¼ln2 ≈ 0.2158 — NOT
    // ln 2, because the reference Q is the corpus INCLUDING the
    // source (the drift monitor's frame, not a two-sample JSD)
    import spark.implicits._
    val d = SparkTestSession.fixtureDir("jsd-fix")
    Seq((0L, "x y", "en", "same", 3L), (1L, "x y", "en", "other", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val same = TextAnalysis.queries("txt20_jsd_drift")(spark, d)
      .collect().map(r => r.getDouble(2))
    assert(same.forall(_ == 0.0), s"identical dists must score 0: ${same.toList}")
    val d2 = SparkTestSession.fixtureDir("jsd-fix2")
    Seq((0L, "x x x", "en", "a", 5L), (1L, "y y y", "en", "b", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val disj = TextAnalysis.queries("txt20_jsd_drift")(spark, d2)
      .collect().map(r => r.getDouble(2))
    val want = 0.5 * math.log(4.0 / 3.0) + 0.25 * math.log(2.0 / 3.0) +
      0.25 * math.log(2.0)
    assert(disj.forall(j => math.abs(j - want) < 1e-6),
      s"disjoint halves must score $want: ${disj.toList}")
  }

  test("txt19 PMI top-20 equals a sequential brute-force recompute") {
    val sf = SparkTestSession.Sf0001
    val docs = Tables.documents(spark, sf).select(lower(trim(col("text"))))
      .collect().map(_.getString(0).split("\\s+").toSeq)
    val uni = docs.flatten.groupBy(identity).map { case (w, o) =>
      w -> o.size.toLong }
    val ttok = docs.map(_.size).sum.toLong
    val bgs = docs.filter(_.size >= 2).flatMap(t => t.zip(t.tail))
    val tbg = bgs.size.toLong
    val expect = bgs.groupBy(identity).toSeq
      .map { case ((w1, w2), o) => (w1, w2, o.size.toLong) }
      .filter(_._3 >= 5)
      .map { case (w1, w2, c) =>
        val pmi = math.rint(math.log(
          (c * ttok * ttok).toDouble / (tbg * uni(w1) * uni(w2))) * 1e6) / 1e6
        (w1, w2, c, uni(w1), uni(w2), pmi)
      }
      .sortBy { case (w1, w2, _, _, _, pmi) => (-pmi, w1, w2) }
      .take(20)
    val got = TextAnalysis.queries("txt19_pmi_collocations")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.nonEmpty && got.length == expect.length)
    got.zip(expect).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3 &&
        g._4 == e._4 && g._5 == e._5, s"$g vs $e")
      assert(math.abs(g._6 - e._6) <= 1e-9, s"pmi $g vs $e")
    }
  }

  test("txt21: MATTR equals a sequential segment sweep; goldens behave") {
    val sf = SparkTestSession.Sf0001
    val docs = graft.Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.toLowerCase.split("\\s+").toSeq)
      .filter(_._2.size >= 50).toMap
    val got = TextAnalysis.queries("txt21_lexical_diversity")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.nonEmpty && got.keySet == docs.keySet)
    docs.foreach { case (id, t) =>
      val k = t.size / 50
      val sumD = (0 until k).map(i => t.slice(i * 50, i * 50 + 50)
        .distinct.size.toLong).sum
      val exp = (t.size.toLong, k.toLong,
        t.distinct.size.toDouble / t.size, sumD.toDouble / (k * 50))
      assert(got(id) == exp, s"doc $id: ${got(id)} vs $exp")
    }
    // golden contrasts: cycling a 5-word vocabulary is low-diversity
    // however long the doc; all-distinct tokens score 1.0 exactly
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = SparkTestSession.fixtureDir("mattr-fix")
    Seq(
      (1L, (0 until 200).map(i => s"w${i % 5}").mkString(" "), "en", "a", 0L),
      (2L, (0 until 200).map(i => s"u$i").mkString(" "), "en", "a", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val g = TextAnalysis.queries("txt21_lexical_diversity")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(g(1L) == ((5.0 / 200, 0.1)) && g(2L) == ((1.0, 1.0)), g.toString)
  }

  test("txt22: growth points match a sequential sweep; beta separates corpora") {
    val sf = SparkTestSession.Sf0001
    // sequential recompute of the checkpoint curve
    val docs = graft.Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.toLowerCase.split("\\s+").toSeq)
      .sortBy(_._1)
    val mx = docs.map(_._1).max
    val first = scala.collection.mutable.Map[String, Long]()
    docs.foreach { case (id, ts) =>
      ts.foreach(w => if (!first.contains(w)) first(w) = id) }
    val got = TextAnalysis.queries("txt22_heaps_growth")(spark, sf)
      .collect().map(r => r.getInt(0).toLong ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got.keySet == Set(1L, 2L, 5L, 10L, 20L, 50L, 100L))
    got.foreach { case (pct, (cp, nTok, vocab, _)) =>
      assert(cp == mx * pct / 100, s"$pct cp")
      assert(nTok == docs.filter(_._1 <= cp).map(_._2.size).sum,
        s"$pct n_tokens")
      assert(vocab == first.values.count(_ <= cp), s"$pct vocab")
    }
    // betas: all checkpoints carry the ONE fitted value. The sf
    // corpus is template-generated and saturates its vocabulary by
    // the 1% checkpoint, so its honest fit is β = 0 exactly — the
    // saturation signal the operator exists to expose (natural text
    // sits near 0.5; the goldens below prove the separation)
    val betas = got.values.map(_._4).toSet
    assert(betas.size == 1 && betas.head >= 0 && betas.head < 1, betas)
    // golden separation: an all-new-words corpus fits beta ≈ 1, a
    // fixed-vocabulary cycler saturates toward 0
    import spark.implicits._
    def fixture(name: String, mk: (Int, Int) => String): String = {
      val d = SparkTestSession.fixtureDir(name)
      (1 to 100).map { i =>
        (i.toLong, (0 until 20).map(j => mk(i, j)).mkString(" "),
          "en", "a", 0L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }
    val fresh = fixture("heaps-fresh", (i, j) => s"w${i}_$j")
    val cycle = fixture("heaps-cycle", (_, j) => s"v$j")
    def beta(d: String): Double =
      TextAnalysis.queries("txt22_heaps_growth")(spark, d)
        .head().getDouble(4)
    val bF = beta(fresh); val bC = beta(cycle)
    assert(math.abs(bF - 1.0) < 1e-6, s"fresh beta $bF")
    assert(bC < 0.2 && bC >= 0.0, s"cycler beta $bC")
  }

  test("txt23/txt24: spectrum constants match a sequential recompute") {
    val sf = SparkTestSession.Sf0001
    val counts = graft.Tables.documents(spark, sf).collect()
      .flatMap(_.getAs[String]("text").trim.toLowerCase.split("\\s+"))
      .groupBy(identity).map { case (_, ws) => ws.length.toLong }.toSeq
    val n = counts.sum
    val m2 = counts.map(m => m * m).sum
    // TXT23: Yule's K + Simpson D from the same integer totals
    val yk = TextAnalysis.queries("txt23_yules_k")(spark, sf).head()
    assert(yk.getLong(0) == n && yk.getLong(1) == counts.size.toLong)
    assert(yk.getLong(2) == counts.count(_ == 1L).toLong)
    assert(yk.getLong(3) == counts.count(_ == 2L).toLong)
    assert(yk.getDouble(4) == 10000.0 * (m2 - n).toDouble / (n * n).toDouble)
    assert(yk.getDouble(5) == (m2 - n).toDouble / (n * (n - 1)).toDouble)
    // sanity: a maximally repetitive corpus has a larger K than the
    // real one (repeat-rate direction)
    assert(yk.getDouble(4) > 0.0 && yk.getDouble(5) > 0.0)
    // TXT24: Good–Turing r* over the spectrum self-join
    val spectrum = counts.groupBy(identity)
      .map { case (r, ts) => r -> ts.length.toLong }
    val gt = TextAnalysis.queries("txt24_good_turing")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val expKeys = spectrum.keySet.filter(r => spectrum.contains(r + 1))
    assert(gt.keySet == expKeys && gt.nonEmpty)
    gt.foreach { case (r, (nr, nr1, rStar, pGt)) =>
      assert(nr == spectrum(r) && nr1 == spectrum(r + 1), s"r=$r spectrum")
      val exp = ((r + 1) * spectrum(r + 1)).toDouble / spectrum(r).toDouble
      assert(rStar == exp, s"r=$r r_star")
      assert(pGt == exp / n.toDouble, s"r=$r p_gt")
      // smoothing direction: the adjusted mass is finite and positive
      assert(rStar > 0.0)
    }
  }

  test("txt25: Fano dispersion matches a sequential recompute") {
    val sf = SparkTestSession.Sf0001
    val docs = graft.Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.toLowerCase.split("\\s+").toSeq)
    val dd = docs.length.toLong
    val perDoc = docs.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (w, ws) => (w, id, ws.length.toLong) }
    }
    val byTok = perDoc.groupBy(_._1).map { case (w, rs) =>
      w -> (rs.map(_._3).sum, rs.length.toLong,
        rs.map(r => r._3 * r._3).sum)
    }
    val top = byTok.toSeq.sortBy { case (w, (t, _, _)) => (-t, w) }.take(20)
    val got = TextAnalysis.queries("txt25_dispersion")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got.size == 20)
    top.zipWithIndex.foreach { case ((w, (total, df, c2)), i) =>
      val fano = (dd * c2 - total * total).toDouble / (dd * total).toDouble
      assert(got(i + 1L) == ((w, total, df, fano)), s"rank ${i + 1}")
    }
    // the signal exists: at least one top token is bursty (Fano > 1
    // by a margin) and none is negative
    assert(got.values.exists(_._4 > 1.5), "no bursty token found")
    assert(got.values.forall(_._4 >= 0.0))
  }

  test("txt26 novelty matches a sequential shingle-df recompute") {
    val sf = SparkTestSession.Sf0001
    val docs: Array[(Long, Set[String])] =
      graft.Tables.documents(spark, sf)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0),
          r.getString(1).trim.toLowerCase.split("\\s+").toSeq))
        .filter(_._2.size >= 3)
        .map { case (id, ts) =>
          id -> ts.sliding(3).map(_.mkString(" ")).toSet }
    val df = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    docs.foreach { case (_, shs) => shs.foreach(s => df(s) += 1) }
    val got = TextAnalysis.queries("txt26_novelty")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.size == docs.size)
    docs.foreach { case (id, shs) =>
      val uniq = shs.count(s => df(s) == 1).toLong
      val exp = (shs.size.toLong, uniq,
        uniq.toDouble / shs.size.toDouble)
      assert(got(id) == exp, s"doc $id")
    }
    // the lens separates: the corpus has both boilerplate-heavy and
    // unique docs
    assert(got.values.exists(_._3 < 0.9) && got.values.exists(_._3 > 0.1))
  }

}
