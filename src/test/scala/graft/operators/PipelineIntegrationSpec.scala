package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** End-to-end composition of the README's training-data pipeline:
  * ingest-increment → clean → decontaminate → mix → pack → shard
  * write, each stage consuming a directory the previous stage
  * produced. The per-operator specs prove each stage right in
  * isolation; this proves the stages actually CHAIN — outputs parse
  * as inputs, filters shrink monotonically, and the final shard
  * accounting equals what survived every stage.
  */
class PipelineIntegrationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def writeDocs(dir: String,
      rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("corpus flows through increment → clean → decon → mix → write") {
    // fixture: 160 docs, 4 sources; planted hazards — doc 40 copies
    // existing doc 1 (incremental dup), docs ending in 3 copy doc 97
    // (which is EXISTING, so it survives ingest, and EVAL — 97 % 97
    // == 0 — so the copies are contamination), docs 4 and 44 are
    // degenerate repeats (cleaning fodder)
    val vocab = (0 until 40).map(i => s"tok$i")
    def sm(x: Long): Long = SparkTestSession.splitmix64(x)
    def text(id: Long): String =
      (0 until 24).map(j => vocab(((sm(id * 131 + j) % 40 + 40) % 40).toInt))
        .mkString(" ")
    val rows = (0L until 160L).map { id =>
      val t =
        if (id == 40) text(1)                       // dup of existing
        else if (id % 10 == 3) text(97)             // eval copies
        else if (id == 4 || id == 44) Seq.fill(24)("spam").mkString(" ")
        else text(id)
      (id, t, s"src${id % 4}")
    }
    val d0 = SparkTestSession.fixtureDir("pl-corpus")
    writeDocs(d0, rows)
    val byId = rows.map(r => r._1 -> r).toMap

    // 1. ingest increment: of the incoming batch (doc_id % 4 == 0),
    // keep only docs NEW against the existing corpus
    Dedup.bloom.invalidate(spark, d0)
    val newIds = Dedup.queries("d7_incremental_new")(spark, d0)
      .collect().map(_.getLong(0)).toSet
    val incoming = rows.filter(_._1 % 4 == 0).map(_._1).toSet
    assert(newIds.subsetOf(incoming))
    assert(!newIds.contains(40L), "the planted dup must not be new")
    val bloomIds = Dedup.queries("d7_bloom_new")(spark, d0)
      .collect().map(_.getLong(0)).toSet
    assert(bloomIds.subsetOf(newIds), "bloom must not invent new docs")
    // the accepted increment joins the existing corpus
    val afterIngest = rows.filter(r => r._1 % 4 != 0 || newIds(r._1))

    // 2. clean: static rules drop the degenerate docs
    val d1 = SparkTestSession.fixtureDir("pl-clean")
    writeDocs(d1, afterIngest)
    val verdicts = Curation.queries("pipe1_corpus_filter")(spark, d1)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(verdicts.keySet == afterIngest.map(_._1).toSet,
      "every doc gets a verdict")
    assert(verdicts(4L) == "top_word" && verdicts(44L) == "top_word",
      s"degenerate docs must fail cleaning: ${verdicts(4L)}, ${verdicts(44L)}")
    val kept = afterIngest.filter(r => verdicts(r._1) == "kept")

    // 3. decontaminate: drop cleaned docs overlapping the eval slice
    val d2 = SparkTestSession.fixtureDir("pl-decon")
    writeDocs(d2, kept)
    val contaminated = Curation.queries("decon1_ngram_overlap")(spark, d2)
      .collect().map(_.getLong(0)).toSet
    val planted = kept.map(_._1).filter(_ % 10 == 3).toSet
    assert(planted.subsetOf(contaminated),
      s"planted eval copies must be flagged: missing ${planted.diff(contaminated)}")
    val decontaminated = kept.filter(r => !contaminated(r._1))

    // 4. mix: per-source downsample; audit fractions must cover
    // exactly the surviving sources
    val d3 = SparkTestSession.fixtureDir("pl-mix")
    writeDocs(d3, decontaminated)
    val mix = DatasetOps.queries("ds5_mixture_sample")(spark, d3)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(mix.keySet == decontaminated.map(_._3).toSet)

    // 5. pack + 6. shard write on the final corpus: the written
    // accounting must equal the docs that survived every stage
    // (ds4 re-runs the cleaning filter — already all 'kept' here)
    val packed = DatasetOps.queries("ds3_sequence_pack")(spark, d3)
      .collect().map(r => r.getLong(1)).toSet
    assert(packed == decontaminated.map(_._1).toSet)
    val outDir = SparkTestSession.fixtureDir("pl-out") + "/data"
    val written = DatasetOps.shardWrite(spark, d3, outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(written.values.sum == decontaminated.size,
      "shard accounting must equal the surviving doc count")
    // survivor counts shrank monotonically and nothing vanished
    assert(decontaminated.size < kept.size || contaminated.isEmpty)
    assert(kept.size < afterIngest.size)
    assert(afterIngest.size < rows.size)
    info(s"160 → ${afterIngest.size} after ingest → ${kept.size} kept → " +
      s"${decontaminated.size} decontaminated; ${written.size} shards")
  }

  test("d17 repeated-span fractions agree with exact dedup") {
    // cross-operator invariant: a doc that is an exact duplicate of
    // another (a d1 group of size ≥ 2) has EVERY 8-token window
    // recurring in its twin — its d17 dup_frac must be exactly 1.0.
    // The natural corpus has no whole-doc exact dups at any SF, so
    // the invariant runs on a planted fixture: 24-token unique docs
    // (the PipelineIntegrationSpec generator), docs 40/41 exact
    // copies of docs 1/2, and the rest pairwise distinct.
    val vocab = (0 until 40).map(i => s"tok$i")
    def sm(x: Long): Long = SparkTestSession.splitmix64(x)
    def text(id: Long): String =
      (0 until 24).map(j => vocab(((sm(id * 777 + j) % 40 + 40) % 40).toInt))
        .mkString(" ")
    val rows = (0L until 60L).map { id =>
      val t = if (id == 40) text(1) else if (id == 41) text(2) else text(id)
      (id, t, s"src${id % 4}")
    }
    val d = SparkTestSession.fixtureDir("d17-x-d1")
    writeDocs(d, rows)
    val d1 = TextAnalysis.queries("d1_exact_dedup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(d1(1L) == 2L && d1(2L) == 2L, "planted dups must group in d1")
    val d17 = TextAnalysis.queries("d17_repeated_spans")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    Seq(1L, 2L, 40L, 41L).foreach { id =>
      assert(d17(id) == 1.0, s"exact-dup doc $id has dup_frac ${d17(id)}")
    }
    // non-vacuous the other way: unique docs are NOT fully duplicated
    assert(d17.count(_._2 < 1.0) >= 50)
  }
}
