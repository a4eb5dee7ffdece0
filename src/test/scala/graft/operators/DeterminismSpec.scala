package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Partition-layout determinism: every assembly/curation decision must
  * be a pure function of the DATA, never of how the data is laid out
  * in files — on a 1000-executor cluster the same corpus arrives in
  * arbitrarily many splits, in arbitrary order, and a query whose
  * output drifts with the layout is silently nondeterministic at
  * scale. The same 200-doc corpus is written once as a single file
  * and once as 7 files; each query must produce identical rows.
  *
  * (Hash-membership ops are layout-free by construction; windowed ops
  * order by doc_id inside the partition key; aggregations are
  * commutative — this spec is the executable form of those claims.)
  */
class DeterminismSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Deterministic word-soup corpus: 200 docs over a 30-word vocab
    * with planted duplicates (every 17th doc repeats doc 3's text). */
  private lazy val (oneFile, sevenFiles): (String, String) = {
    import spark.implicits._
    def sm(x: Long): Long = SparkTestSession.splitmix64(x)
    val vocab = (0 until 30).map(i => s"w$i")
    def text(id: Long): String =
      (0 until 20 + (sm(id) & 15).toInt)
        .map(j => vocab(((sm(id * 131 + j) % 30 + 30) % 30).toInt))
        .mkString(" ")
    val rows = (0L until 200L).map { id =>
      // planted duplicates: every 17th doc repeats doc 3 (dedup
      // fodder), and docs ending in 7 repeat EVAL doc 0 so the
      // decontamination query has non-vacuous hits
      val t = if (id > 0 && id % 17 == 0) text(3L)
        else if (id > 0 && id % 10 == 7) text(0L)
        else text(id)
      (id, t, s"src${id % 20}", if (id % 5 == 0) "de" else "en")
    }
    val df = rows.toDF("doc_id", "text", "source", "lang")
    val d1 = SparkTestSession.fixtureDir("det-one")
    val d7 = SparkTestSession.fixtureDir("det-seven")
    df.coalesce(1).write.mode("overwrite").parquet(s"$d1/documents.parquet")
    df.repartition(7).write.mode("overwrite")
      .parquet(s"$d7/documents.parquet")
    (d1, d7)
  }

  private val cases: Seq[(String, Map[String,
      (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame])] = Seq(
    "pipe1_corpus_filter" -> Curation.queries,
    "pipe1_filter_funnel" -> Curation.queries,
    "pipe2_quantile_cut" -> Curation.queries,
    "txt7_repetition" -> Curation.queries,
    "decon1_ngram_overlap" -> Curation.queries,
    "ds3_sequence_pack" -> DatasetOps.queries,
    "ds6_length_batching" -> DatasetOps.queries,
    "ds5_mixture_sample" -> DatasetOps.queries,
    "d7_incremental_new" -> Dedup.queries,
    "d7_bloom_new" -> Dedup.queries,
    "d1_exact_dedup" -> TextAnalysis.queries,
    "d10_dup_clusters" -> Dedup.queries,
    "ds7_epoch_shuffle" -> DatasetOps.queries,
    // float sums with a PINNED fold order (sorted per-doc vocab) —
    // the claim is exactly that the answer can't drift with layout
    "txt11_unigram_loglik" -> TextAnalysis.queries,
    "txt10_pii_redact" -> TextAnalysis.queries,
    "txt4_fingerprint" -> TextAnalysis.queries,
    // the composed end-to-end funnel: every stage decision must be a
    // pure function of the data, so the 5-row funnel can't move
    "pipe3_assembly_funnel" -> Curation.queries,
    // the negative draw is a pure function of (anchor, slot) — the
    // reproducibility contrastive training depends on
    "ds10_negative_sample" -> DatasetOps.queries,
    // graph + corpus-distribution additions: triangle participation
    // and the Zipf fit must be pure functions of the edge/token data
    "d12_triangle_count" -> Dedup.queries,
    "txt15_zipf" -> TextAnalysis.queries,
    // derived-weight sampling and the datasheet must not see layout
    "ds12_temperature_mix" -> DatasetOps.queries,
    "pipe4_corpus_datasheet" -> Curation.queries,
    "d13_clustering_coeff" -> Dedup.queries,
    // fuzzy decon reports (corpus, eval, jaccard) rows — pure
    // set-overlap arithmetic over seeded hashes, layout-free by the
    // same argument as d10; and LPA labels are exact integers from a
    // deterministic synchronous update
    "decon2_fuzzy_overlap" -> Curation.queries,
    "d14_label_prop" -> Dedup.queries,
    // round 9: chunk identity, curriculum rank, bigram folds, frame
    // windows, prefix edit distances and the full-corpus graph runs
    // must all be pure functions of the data
    "ds14_chunk_overlap" -> DatasetOps.queries,
    "ds15_curriculum" -> DatasetOps.queries,
    "txt17_bigram_loglik" -> TextAnalysis.queries,
    "mm10_scene_change" -> Multimodal.queries,
    "f13_edit_distance" -> Relational.queries,
    "d10_cc_corpus" -> Dedup.queries,
    "d12_tri_corpus" -> Dedup.queries)

  cases.foreach { case (name, qs) =>
    test(s"$name is identical across file layouts and shuffle widths") {
      if (name == "d7_bloom_new") {
        Dedup.bloom.invalidate(spark, oneFile)
        Dedup.bloom.invalidate(spark, sevenFiles)
      }
      val a = qs(name)(spark, oneFile).collect().map(_.toString).toSeq
      val b = qs(name)(spark, sevenFiles).collect().map(_.toString).toSeq
      assert(a.nonEmpty, s"$name vacuous on the fixture")
      assert(a == b, s"$name drifts with the file layout")
      // second axis: the shuffle width decides how windows/aggs
      // decompose into tasks — a 1000-executor cluster runs wide, the
      // test session runs at 4; answers must not know the difference
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      try {
        spark.conf.set(key, "11")
        val c = qs(name)(spark, oneFile).collect().map(_.toString).toSeq
        assert(a == c, s"$name drifts with the shuffle width")
      } finally spark.conf.set(key, prev)
    }
  }
}
