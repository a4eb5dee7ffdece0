package graft

import org.apache.spark.sql.functions._

/** Scaling probe: measures how the corpus-heavy paths behave when the
  * documents/embeddings tables grow 10×, against the same code the
  * driver benches at sf0.1.
  *
  * The replica multiplies the sf0.1 corpus tenfold by unioning ten
  * id-offset copies (doc_id + k·10⁶, vec_id + k·10⁶) written as 10
  * parquet files — each copy preserves the original's internal
  * near-dup structure, so the pair graph, cluster count, and
  * per-doc work all scale ×10 while cross-copy ids never collide
  * (offsets far above any real id). This is a MEASUREMENT input
  * derived from the driver's data (never a correctness oracle input —
  * those stay on the read-only sf dirs).
  *
  * Usage: `sbt 'runMain graft.ScaleProbe'` — prints one JSON line
  * `{"q": {"x1": sec, "x10": sec, "ratio": r}, ...}`. A ratio near 10
  * on a fixed-core machine means linear work growth (the 100 TB
  * design claim: no super-linear pair blowup, no accidental
  * quadratic); under 10 means the fixed costs still dominate at this
  * size.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftExtensions.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)

    // v2: round 10 adds a 10× events replica (event_id offset far
    // above any real id; user_id/ts preserved, so per-user streaming
    // state and the lag-grid join both grow ×10 in rows-per-key — the
    // scaling axis that actually stresses them)
    val x10Dir = "/tmp/graft-scale10-v2"
    val marker = new java.io.File(s"$x10Dir/_READY")
    if (!marker.exists()) {
      val docs = Tables.documents(spark, sfDir)
      val embs = Tables.embeddings(spark, sfDir)
      val evs = Tables.events(spark, sfDir)
      val docs10 = (0 until 10).map(k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * 1000000L)))
        .reduce(_ unionByName _)
      val embs10 = (0 until 10).map(k =>
        embs.withColumn("vec_id", col("vec_id") + lit(k * 1000000L)))
        .reduce(_ unionByName _)
      val evs10 = (0 until 10).map(k =>
        evs.withColumn("event_id", col("event_id") + lit(k * 1000000000L)))
        .reduce(_ unionByName _)
      docs10.repartition(10).write.mode("overwrite")
        .parquet(s"$x10Dir/documents.parquet")
      embs10.repartition(10).write.mode("overwrite")
        .parquet(s"$x10Dir/embeddings.parquet")
      evs10.repartition(10).write.mode("overwrite")
        .parquet(s"$x10Dir/events.parquet")
      marker.createNewFile()
    }

    // round 11: a SEPARATE documents replica for the d18 probe. The
    // shared replica above copies text verbatim, which is right for
    // the probes whose cost axis is occurrence volume — but wrong
    // for a set-similarity JOIN: 10 identical copies plant a
    // 10-clique behind every rare shingle (each df-1 posting becomes
    // df-10 → ~45× cross-copy candidate pairs), a quadratic artifact
    // of the replication, not the operator (the d9/d16/sql7
    // exclusion note above). Salting every TOKEN with the copy index
    // keeps each copy's internal near-dup structure byte-comparable
    // while making the 3-gram vocabularies of different copies
    // disjoint — the honest axis: a corpus of 10× DISTINCT docs,
    // postings volume ×10, candidate volume ∝ rare-shingle postings.
    val d18Dir = "/tmp/graft-scale10-d18"
    val marker18 = new java.io.File(s"$d18Dir/_READY")
    if (!marker18.exists()) {
      val docs = Tables.documents(spark, sfDir)
      (0 until 10).map(k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * 1000000L))
          .withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"$k$$1")))
        .reduce(_ unionByName _)
        .repartition(10).write.mode("overwrite")
        .parquet(s"$d18Dir/documents.parquet")
      marker18.createNewFile()
    }

    // round 12: a 10× ORDERS replica for the s27 codec probe (its
    // cost axis is compressed I/O volume, not the corpus tables the
    // shared replica carries). Own dir + marker so the existing
    // replicas stay valid.
    val ordDir = "/tmp/graft-scale10-orders"
    val markerOrd = new java.io.File(s"$ordDir/_READY")
    if (!markerOrd.exists()) {
      val ord = Tables.orders(spark, sfDir)
      (0 until 10).map(k =>
        ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L)))
        .reduce(_ unionByName _)
        .repartition(10).write.mode("overwrite")
        .parquet(s"$ordDir/orders.parquet")
      markerOrd.createNewFile()
    }

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm-up + untimed streaming-rig staging (Bench's protocol: the
    // timed streaming entries measure readStream → sink, not the JSON
    // render of the source corpus)
    noop(Tables.documents(spark, sfDir).groupBy("source").count())
    noop(Tables.documents(spark, x10Dir).groupBy("source").count())
    graft.streaming.EventStream.stageRig(spark, sfDir)
    graft.streaming.EventStream.stageRig(spark, x10Dir)

    val probes: Seq[(String, String => Unit)] = Seq(
      "sig_build" -> { d =>
        graft.operators.Dedup.signatures.invalidate(spark, d)
        graft.operators.Dedup.signatures(spark, d)
        ()
      },
      "corpus_pairs_build" -> { d =>
        graft.operators.Dedup.corpusPairs.invalidate(spark, d)
        graft.operators.Dedup.corpusPairs(spark, d)
        ()
      },
      "d10_cc_corpus" -> { d =>
        noop(graft.operators.Dedup.queries("d10_cc_corpus")(spark, d))
      },
      // round 10: the clustering-coefficient consumer of the shared
      // edge table. Two corpus queries are DELIBERATELY absent from
      // the probe because the id-offset replica copies every row 10×,
      // planting a dense 10-clique of identical content behind each
      // original — an artifact of the replica, not the operator:
      // d9/d16 (every embedding × its 9 copies at cosine 1.0 → 45·V
      // synthetic edges) and sql7_closure_corpus (J = 1.0 cliques of
      // degree 9 make the bounded UNION ALL walk multiply as deg^depth
      // ≈ 9⁴ per vertex, tripping Spark's 10⁶ recursion-row guard —
      // measured, and exactly the documented rCTE-vs-driver-loop
      // trade-off: in-plan recursion is the shallow-sparse path; the
      // D10 loop, probed above, handles the dense graph at ratio ~1.6).
      // The d12/d13 wedge kernel is polynomial (O(m·α)), so d13 probes
      // cleanly over the same clique-heavy graph.
      "d13_coeff_corpus" -> { d =>
        noop(graft.operators.Dedup.queries("d13_coeff_corpus")(spark, d))
      },
      // round 11: PageRank over the same shared edge table — 10 fixed
      // keyed join+agg rounds; like d10/d13 it inherits the replica's
      // planted 10-cliques through corpus_pairs, so the ratio reads
      // on the edge-volume axis those probes established.
      "d11_pr_corpus" -> { d =>
        noop(graft.operators.Dedup.queries("d11_pr_corpus")(spark, d))
      },
      // round 11: the suite's most expensive query, on the token-
      // salted replica (see the d18Dir note above). The slice keeps
      // every copy's doc_id<1000 window so the probed corpus is 10×
      // the sf0.1 slice with disjoint per-copy vocabularies.
      "d18_prefix_jaccard" -> { d =>
        val (dd, slice) =
          if (d == sfDir) (d, col("doc_id") < 1000)
          else (d18Dir, col("doc_id") % 1000000L < 1000)
        noop(graft.operators.TextAnalysis
          .prefixJaccardPairs(spark, dd, slice))
      },
      "txt17_bigram_loglik" -> { d =>
        noop(graft.operators.TextAnalysis
          .queries("txt17_bigram_loglik")(spark, d))
      },
      // round 10 late: the repeated-span corpus pass (window explode →
      // two span-keyed hash aggs → join back). On the replica every
      // span trivially recurs across the 10 copies, so dup_frac
      // saturates — the TIMING still exercises the real scaling axis
      // (occurrence volume ×10 through both aggs and the join).
      "d17_repeated_spans" -> { d =>
        noop(graft.operators.TextAnalysis
          .queries("d17_repeated_spans")(spark, d))
      },
      "ds14_chunk_overlap" -> { d =>
        noop(graft.operators.DatasetOps
          .queries("ds14_chunk_overlap")(spark, d))
      },
      "sim8_mrl_topk" -> { d =>
        noop(graft.operators.Similarity.queries("sim8_mrl_topk")(spark, d))
      },
      "d1_exact_dedup" -> { d =>
        noop(graft.operators.TextAnalysis.queries("d1_exact_dedup")(spark, d))
      },
      // round 10: the three remaining family heads — config-grid ×
      // events interval join, and the two state-store-heavy streaming
      // paths (watermarked dedup+window agg; session windows). The
      // streaming entries run the full readStream → stateful agg →
      // sink pipeline on a rig staged from the 10× events table, so
      // the ratio measures state-store growth, not JSON rendering.
      // round 10 final: the three new corpus-heavy families. d19 runs
      // the CDC codegen kernel over every doc + two chash-keyed aggs
      // (chunks recur ×10 on the replica, like d17 — the timing axis
      // is occurrence volume). txt20 is the (source, word) corpus
      // pass into the vocab-bounded spine. a73 is the distinct-value
      // rank decomposition: the replica copies values, so the
      // distinct-value frame is CONSTANT while the scan grows ×10 —
      // the probe shows the post-scan phase is domain-bounded, the
      // operator's whole scale argument.
      "d19_cdc_chunks" -> { d =>
        noop(graft.operators.TextAnalysis
          .queries("d19_cdc_chunks")(spark, d))
      },
      "txt20_jsd_drift" -> { d =>
        noop(graft.operators.TextAnalysis
          .queries("txt20_jsd_drift")(spark, d))
      },
      "a73_kruskal_wallis" -> { d =>
        noop(graft.operators.Stats
          .queries("a73_kruskal_wallis")(spark, d))
      },
      // round 11: the per-PAIR variant of a73's rank decomposition —
      // the replica copies values, so each pair's distinct-value
      // union is constant while the scan grows ×10; the probe shows
      // the k(k−1)/2-keyed post-scan phase is domain-bounded (the
      // same argument, per pair).
      "a109_jonckheere" -> { d =>
        noop(graft.operators.Stats
          .queries("a109_jonckheere")(spark, d))
      },
      // round 11: the corpus-wide shingle-df spine consumer — df
      // KEYS stay constant on the verbatim replica while occurrence
      // volume grows ×10 through the agg and the join back (txt20's
      // axis over 3-gram granularity).
      "txt26_novelty" -> { d =>
        noop(graft.operators.TextAnalysis
          .queries("txt26_novelty")(spark, d))
      },
      // j13: the bucket-rewritten overlap join — both gaps-and-islands
      // passes see 10× events, and the replica's denser error stream
      // MERGES incidents (longer windows → more hour buckets each),
      // so the probe exercises the candidate-volume axis directly.
      "j13_overlap_join" -> { d =>
        noop(graft.operators.IntervalJoins
          .queries("j13_overlap_join")(spark, d))
      },
      "grid_build" -> { d =>
        graft.operators.LagGrid.grid.invalidate(spark, d)
        graft.operators.LagGrid.grid(spark, d)
        ()
      },
      "t3_stream_dedup_agg" -> { d =>
        noop(graft.streaming.EventStream.queries("t3_stream_dedup_agg")(spark, d))
      },
      "t16_session_stream" -> { d =>
        noop(graft.streaming.EventStream.queries("t16_session_stream")(spark, d))
      },
      // round 12: the committed-artifact heavies that had no measured
      // scaling row. mm14 is the suite's slowest stateless entry — a
      // zero-shuffle codegen fold whose cost axis is raw byte volume,
      // so the verbatim replica is the honest input.
      "mm14_byte_autocorr" -> { d =>
        noop(graft.operators.Multimodal
          .queries("mm14_byte_autocorr")(spark, d))
      },
      // d21/d28/pipe7 consume the shared verified corpus graph like
      // d10/d11/d13 — they inherit the replica's planted 10-cliques
      // (the documented edge-volume axis those probes established):
      // d21's synchronous peel is two semi-joins + one agg per round
      // on edge-sized frames, d28 a (source, source) rollup, pipe7
      // the three-way doc-keyed composition of cc/coreness/harmonic.
      "d21_kcore" -> { d =>
        noop(graft.operators.Dedup.queries("d21_kcore")(spark, d))
      },
      "d28_source_overlap" -> { d =>
        noop(graft.operators.Dedup.queries("d28_source_overlap")(spark, d))
      },
      "pipe7_graph_triage" -> { d =>
        noop(graft.operators.Curation
          .queries("pipe7_graph_triage")(spark, d))
      },
      // round 12: the simhash pair graph + CC composition — the
      // bit-sum agg scans 10× tokens, the banded pair search and the
      // closure rounds ride the replica's copy-clique edge volume
      // (the d10/d21 axis).
      "d29_simhash_clusters" -> { d =>
        noop(graft.operators.Dedup.queries("d29_simhash_clusters")(spark, d))
      },
      // s27 on the 10× orders replica: both codec legs (single-stream
      // gzip CSV, block-splittable bzip2 JSON) write + read 10× the
      // bytes; the interesting reading is whether the non-splittable
      // gzip read leg degrades toward single-task wall-clock.
      "s27_compressed_roundtrip" -> { d =>
        val dd = if (d == sfDir) d else ordDir
        noop(graft.operators.SourceSinks
          .queries("s27_compressed_roundtrip")(spark, dd))
      },
      // round 13: the last two >2.5 s entries without a measured row.
      // Both consume the verified corpus graph, so they probe on the
      // TOKEN-SALTED replica (d18Dir), not the verbatim one: verbatim
      // copies plant a J = 1.0 10-clique behind every original, and
      // bounded UNION ALL walks multiply as Σ deg^depth on cliques —
      // the round-11 measurement that tripped Spark's 10⁶
      // recursion-row guard and got sql7 excluded. Salting keeps each
      // copy's internal near-dup structure while making copies
      // disjoint: 10× DISTINCT docs, 10× copy-local edges, cluster
      // diameter unchanged — exactly the axis a 100× reader asks of
      // the UnionLoop (walk volume ∝ edges, not deg^depth).
      "sql7_closure_corpus" -> { d =>
        val dd = if (d == sfDir) d else d18Dir
        noop(graft.operators.Relational
          .queries("sql7_closure_corpus")(spark, dd))
      },
      // pipe6 chains the same graph (d10 clusters) into keep-best →
      // stratified split → interleave; every post-graph stage is
      // keyed on (cluster | stratum | source), so the salted replica
      // measures the composition at 10× distinct docs.
      "pipe6_dedup_mix" -> { d =>
        val dd = if (d == sfDir) d else d18Dir
        noop(graft.operators.Curation
          .queries("pipe6_dedup_mix")(spark, dd))
      })

    // SPARK_GRAFT_ONLY=a,b runs just the named probes (Bench's filter;
    // the full sweep stays the default)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach(
      SparkEntry.checkFilter("scaleprobe", _, probes.map(_._1).toSet))
    val out = probes.filter(p => only.forall(_.contains(p._1)))
      .map { case (name, run) =>
      // two reps, min: single-shot in a shared sandbox is
      // load-poisoned (Bench's methodology, lighter form)
      val t1 = (1 to 2).map(_ => time(run(sfDir))).min
      val t10 = (1 to 2).map(_ => time(run(x10Dir))).min
      val ratio = math.rint(t10 / t1 * 100) / 100
      s""""$name":{"x1":${math.rint(t1 * 1000) / 1000},""" +
        s""""x10":${math.rint(t10 * 1000) / 1000},"ratio":$ratio}"""
    }
    println(out.mkString("{", ",", "}"))
    spark.stop()
  }
}
