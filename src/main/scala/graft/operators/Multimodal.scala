package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: opaque binary payloads with typed
  * metadata, and a deterministic "decode + feature extract" stage.
  *
  * The container ships no image/audio codecs, so the decode itself is
  * a clearly-marked deterministic stub (byte histogram standing in for
  * a pixel/sample decoder); the Spark-side plumbing — binary column,
  * schema, partition-parallel batch iteration, feature vector shape —
  * is real and tested (MultimodalSpec).
  *
  * Scale notes: binary payloads stay opaque through the scan (no
  * row-level decode before the filter); feature extraction is
  * mapPartitions-parallel with no shuffle; at 100 TB the histogram
  * stub swaps for a real codec with the identical plan shape.
  */
object Multimodal {

  /** MM5 shared stage: 64-bit average-hash perceptual fingerprint per
    * payload — the aHash every image-dedup pipeline runs (resize to a
    * fixed grid, threshold each cell against the mean). Same stub
    * decoder contract as MM2–MM4 (byte signal stands in for pixels):
    * the payload area-resizes to 64 block means (the MM4 kernel at
    * Target=64) and bit k is set iff block k's mean exceeds the GLOBAL
    * byte mean — all integer sums and two exact int/int divisions per
    * comparison, so the hash is bit-identical across engines and the
    * whole family is fully oracle-checkable (no simhash-style
    * rows-only compromise). Emitted both as a bitstring (block 0
    * leftmost; the oracle's form) and as the packed long the banded
    * pair search keys on. */
  private def perceptHash(s: SparkSession, d: String): DataFrame =
    perceptHashOf(s, Tables.documents(s, d))

  private def perceptHashOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val Target = 64
    val bin = docs
      .filter(octet_length(col("text")) >= Target &&
              octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    bin.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val L = bytes.length
        var tot = 0L
        var i = 0
        while (i < L) { tot += bytes(i) & 0xFF; i += 1 }
        val gmean = tot.toDouble / L
        var ph = 0L
        val sb = new StringBuilder(Target)
        var k = 0
        while (k < Target) {
          val lo = k * L / Target; val hi = (k + 1) * L / Target
          var sum = 0L
          var j = lo
          while (j < hi) { sum += bytes(j) & 0xFF; j += 1 }
          val bit = sum.toDouble / (hi - lo) > gmean
          sb.append(if (bit) '1' else '0')
          if (bit) ph |= 1L << k
          k += 1
        }
        (id, sb.toString, ph)
      }
    }.toDF("doc_id", "phash", "ph64")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MM1: binary column + typed metadata (byte length, content hash,
    // magic prefix) — fully relational, oracle-checked.
    "mm1_binary_meta" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          md5(col("text")).as("content_hash"),
          substring(col("text"), 1, 4).as("magic"))
        .orderBy("doc_id")),

    // MM8: byte-class entropy of the binary payload — MM2's
    // histogram re-expressed WITHOUT the mapPartitions lambda: pure
    // column functions, no closure serialization — the "functions,
    // not UDFs" doctrine applied to binary columns. Nibble classes
    // (16) rather than MM2's 8 bins; entropy folds in sorted class
    // order (TXT13's pinned-order discipline). Shape history,
    // measured at sf0.1: (1) explode per byte → (doc, cls) hash agg
    // ran ~3.7 s (per-byte substr rows; map-side combine kept the
    // shuffle at 16/doc but the 10M-row expansion dominated); (2) an
    // in-row variant of 16 filter/size calls over the nibble ARRAY
    // measured 102 s — each per-class filter re-materialized the
    // expansion. This third shape is in-row WITHOUT the array: ONE
    // regexp pass strips the hex string to its high nibbles (kept in
    // its own projection — CollapseProject won't inline a non-cheap
    // alias referenced 33×), then each class count is a replace+
    // length scan of that 1-char-per-byte string (16 linear char
    // scans, no per-byte objects, no shuffle at all) — 1.3 s, ~3×
    // the explode form; the remainder is the single-file corpus
    // running as one input split (see Tables.documents), not plan
    // shape. (translate() for the scans measured 2.4 s — slower than
    // replace().) (4) Round 14 (guide §4): the replace()-scan stack
    // (hex + regexp_replace building two O(2L) temporaries, then 16
    // full-string scans) becomes the compiled NibbleClassCounts
    // kernel — ONE O(L) pass over the raw UTF-8 bytes emitting the
    // dense 16-slot class histogram in the same index order, so the
    // filter(>0) list and the entropy fold read identically
    // (NibbleClassCountsSpec pins kernel ≡ replace()-form on the real
    // corpus + edge rows). MM2's mapPartitions stays the imperative
    // fast path; MM8 is the declarative twin.
    "mm8_byte_entropy" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(octet_length(col("text")) > 0)
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          filter(graft.functions.NibbleClassCounts.counts(col("text")),
            x => x > 0).as("hist"))
        .select(col("doc_id"), col("n_bytes"),
          size(col("hist")).cast("long").as("n_classes"),
          round(aggregate(col("hist"), lit(0.0d), (acc, x) => {
            val p = x.cast("double") / col("n_bytes")
            acc - p * log(p)
          }), 6).as("entropy"))
        .orderBy("doc_id")),

    // MM15: conditional byte-class entropy H(next | prev) — the
    // SEQUENCE axis of randomness triage that MM8/MM13/MM14 cannot
    // see: MM8's marginal entropy and MM13's χ² read the histogram
    // (order-blind), MM14 reads only lag-1 linear correlation; text
    // and structured binaries have LOW conditional entropy (the next
    // byte class is predictable from the previous) while compressed/
    // encrypted payloads stay near the marginal even conditionally.
    // H(next|prev) = H(pairs) − H(prev-marginal), both from ONE
    // (doc, prev, next) class-pair count table: the pair explode uses
    // MM14's sliced-value-array shape (never element_at in a lambda —
    // the documented O(L²) projection-collapse trap), counts shuffle
    // once on (doc, pair) with map-side combine, the marginal derives
    // from the pair counts by a second tiny agg, and each entropy
    // term −p·ln p is r6'd then decimal-pinned (the a48/a71 order-free
    // fold discipline — these sums cross partitions, unlike MM8's
    // in-row ordered fold). h_cond is one subtraction of the two
    // pinned renders. Byte-level via hex/encode like MM8 — no ASCII
    // assumption. Fully hash-checked.
    "mm15_byte_cond_entropy" -> ((s, d) => {
      // ONE compiled pass per row (round 14, guide §4): the per-BYTE
      // relational expansion (hex → regexp_replace → split → two
      // slices → interpreted zip_with+concat → explode of one row per
      // byte → hash agg) becomes the NibblePairCounts kernel emitting
      // the ≤256 non-zero (pair, count) cells directly — identical
      // exact counts, identical pair rendering (uppercase high-nibble
      // hex chars), and the explode shrinks from |bytes| rows to the
      // cell count. Downstream entropy arithmetic unchanged.
      val cc = Tables.documents(s, d)
        .filter(octet_length(encode(col("text"), "UTF-8")) >= 2)
        .select(col("doc_id"),
          (octet_length(encode(col("text"), "UTF-8")) - 1).cast("long")
            .as("np"),
          explode(graft.functions.NibblePairCounts.counts(col("text")))
            .as("pc"))
        .select(col("doc_id"), col("np"),
          col("pc.pair").as("pair"), col("pc.c").as("c"))
      def entropyOf(counts: DataFrame, out: String): DataFrame = counts
        .withColumn("t", round(
          -(col("c").cast("double") / col("np")) *
            log(col("c").cast("double") / col("np")), 6))
        .groupBy(col("doc_id"), col("np"))
        .agg(sum(col("t").cast("decimal(24,10)")).cast("double").as(out))
      val hPair = entropyOf(cc, "h_pair")
      val hPrev = entropyOf(
        cc.groupBy(col("doc_id"), col("np"),
            substring(col("pair"), 1, 1).as("a"))
          .agg(sum(col("c")).as("c")), "h_prev")
      hPair.join(hPrev, Seq("doc_id", "np"))
        .select(col("doc_id"), col("np").as("n_pairs"),
          col("h_pair"), col("h_prev"),
          (col("h_pair") - col("h_prev")).as("h_cond"))
        .orderBy("doc_id")
    }),

    // MM13: χ² uniformity of the byte-class histogram — the
    // compressed/encrypted-payload detector next to MM8's entropy
    // (entropy saturates near log 16 for ANY near-uniform histogram;
    // χ² keeps resolving HOW uniform, the standard randomness screen
    // for "is this blob already compressed?" in ingest triage). Same
    // nibble-class expansion as MM8, but the fold runs over the FULL
    // 16-slot positional array (zero classes contribute E exactly),
    // E = n/16 is an exact binary fraction, every term one fixed
    // IEEE chain, the 16-term sum index-ordered on both engines →
    // raw-double hash match. Stateless per-row projection; round 14
    // (guide §4): the 16 replace()-scans become the same compiled
    // NibbleClassCounts pass as MM8 — the kernel's dense positional
    // array is exactly the fold's input (zero slots included).
    "mm13_byte_chi2" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(octet_length(col("text")) > 0)
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          graft.functions.NibbleClassCounts.counts(col("text"))
            .as("hist"))
        .select(col("doc_id"), col("n_bytes"),
          aggregate(col("hist"), lit(0.0d), (acc, x) => {
            val e = col("n_bytes").cast("double") / 16
            acc + (x.cast("double") - e) * (x.cast("double") - e) / e
          }).as("chi2"))
        .orderBy("doc_id")),

    // MM14: lag-1 serial byte correlation — the ORDER-sensitive
    // payload screen the histogram family (MM8 entropy, MM13 χ²)
    // cannot give: two blobs with identical byte histograms but
    // different structure (text vs shuffled text, raw samples vs
    // packed records) separate on the Pearson correlation between
    // consecutive bytes — near 0 for compressed/encrypted payloads,
    // high for smooth signals, the standard third axis of ingest
    // randomness triage. The five sums (Σx, Σy, Σx², Σy², Σxy over
    // the L−1 adjacent pairs) are exact BIGINTs folded in one O(L)
    // pass over the codepoint array (ASCII-guarded like MM11, so
    // byte = codepoint exactly); both variance gates are exact
    // integer comparisons, and r is ONE fixed IEEE chain
    // (num/(√vx·√vy), the two sqrts pinned separately) on integers
    // ≪2⁵³ — raw doubles, fully hash-checked. Stateless per-row
    // projection, no shuffle.
    "mm14_byte_autocorr" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(length(col("text")) >= 2 &&
          octet_length(encode(col("text"), "UTF-8")) === length(col("text")))
        // ONE whole-stage-codegen pass over the string's bytes (round
        // 14, guide §4): the previous HOF formulation (split →
        // transform(ascii) → two slices → zip_with → five interpreted
        // `aggregate` folds — itself the round-11 fix for an O(L²)
        // element_at form that measured 905 s) stayed outside codegen
        // and walked the array seven times per row; the kernel emits
        // the identical exact-BIGINT sums in one compiled loop (the
        // ASCII filter above makes byte ≡ codepoint, the kernel's
        // exactness contract — see ByteAutocorrSums). Measured at
        // sf0.1: 4.3 s → see OPTIMIZATION_r14.md.
        .select(col("doc_id"),
          graft.functions.ByteAutocorrSums.sums(col("text")).as("m"))
        .select(col("doc_id"), col("m.np").as("np"),
          col("m.sx").as("sx"), col("m.sy").as("sy"),
          col("m.sxx").as("sxx"), col("m.syy").as("syy"),
          col("m.sxy").as("sxy"))
        .withColumn("vx", col("np") * col("sxx") - col("sx") * col("sx"))
        .withColumn("vy", col("np") * col("syy") - col("sy") * col("sy"))
        .filter(col("vx") > 0 && col("vy") > 0)
        .select(col("doc_id"), col("np"),
          ((col("np") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt(col("vx").cast("double")) *
              sqrt(col("vy").cast("double")))).as("autocorr"))
        .orderBy("doc_id")),

    // MM10: scene-change detection over the sampled frame stream —
    // the video-curation primitive built on MM3's frames (sample
    // every 4th 16-byte frame) computed DECLARATIVELY (the MM8-twin
    // discipline: hex expansion + HOF sums, so the whole chain is
    // oracle-checkable): per-frame mean → per-doc lag window →
    // boundary where |Δmean| ≥ 8.0. Frame means are exact binary
    // fractions (integer byte sums / 16), so the threshold compare
    // cannot straddle engines. One narrow window per doc (frames per
    // payload, bounded), no corpus shuffle. At scale the hex-sum
    // "decoder" swaps for a codec emitting the same (doc, frame,
    // feature) rows — the windowed boundary logic is unchanged.
    // Round 15 (guide §4): the hex expansion + conv(substr) radix
    // re-parse per byte (substr walks from the string head — O(L²)
    // per doc) is replaced by the FrameByteSums codegen kernel: one
    // relative byte loop per doc emitting the sampled frame sums.
    // Byte semantics are IDENTICAL for any input (the kernel reads
    // the same UTF-8 bytes the hex form re-parsed); frame k = element
    // k/Stride of the sampled array. MultimodalSpec pins kernel ≡
    // hex-scan form on the real corpus.
    "mm10_scene_change" -> ((s, d) => {
      val FrameBytes = 16; val Stride = 4
      val w = Window.partitionBy("doc_id").orderBy("frame_idx")
      Tables.documents(s, d)
        .filter(octet_length(encode(col("text"), "UTF-8")) >= FrameBytes)
        .select(col("doc_id"), posexplode(graft.functions.FrameByteSums
          .sums(col("text"), FrameBytes, Stride, squared = false)))
        .select(col("doc_id"),
          (col("pos") * Stride).cast("long").as("frame_idx"),
          (col("col").cast("double") / FrameBytes).as("frame_mean"))
        .withColumn("prev", lag(col("frame_mean"), 1).over(w))
        .select(col("doc_id"), col("frame_idx"),
          round(col("frame_mean"), 6).as("frame_mean"),
          when(col("prev").isNotNull &&
               abs(col("frame_mean") - col("prev")) >= 8.0d, 1L)
            .otherwise(0L).as("is_boundary"))
        .orderBy("doc_id", "frame_idx")
    }),

    // MM11: silence-RUN detection — the audio-preprocessing mirror of
    // MM10's scene cuts: every speech/audio pipeline trims or
    // segments on low-energy runs before featurization (VAD's crude
    // ancestor). Same stub-decoder contract (byte signal stands in
    // for samples): frame energy = mean SQUARE over 16-byte frames
    // (the RMS form — integer square sums, exact; ÷16 is exact binary
    // division), quiet frames (energy < 9000, ~7% of this corpus'
    // frames — measured, non-vacuous) merge into maximal consecutive
    // RUNS via the gaps-and-islands idiom (frame_idx − row_number
    // over quiet frames per doc is constant exactly within a run —
    // W13's sessionize pattern on an integer axis).
    //
    // Kernel shape, measured at sf0.1 (isolated): (1) explode ALL
    // frames → hex conv(substr) byte sums → filter, 6.4 s — the hex
    // expansion doubles the string, conv re-parses a radix per byte,
    // and 93% of the exploded rows are discarded by the quiet filter
    // AFTER materializing; (2) per-byte ascii(substr) with the quiet
    // filter in-row, 3.7 s — UTF8String.substring walks from the
    // string head, so per-byte extraction is O(L²) per doc; (3) this
    // form, 1.3 s: split("") materializes the codepoint array ONCE
    // per doc (O(L); exact byte values for the ASCII corpus — the
    // perceptHash guard makes that explicit, and the oracle carries
    // the same guard), frame energies are O(16) slice-folds over it,
    // and the quiet filter runs INSIDE the row over the frame struct
    // array, so only the ~7% quiet frames ever explode or shuffle —
    // filter-before-explode, the projection analogue of
    // verify-before-dedup. Per-doc bounded arithmetic, one even
    // doc-keyed shuffle of quiet frames; run output ≪ frames. Exact
    // frame indices/counts → fully oracle-checked.
    // Round 15 (guide §4): the split("") codepoint-array + interpreted
    // slice-folds (form 3 of the measurement ladder above) give way to
    // the FrameByteSums codegen kernel — one relative byte loop per
    // doc, zero per-char string allocation. The kernel reads RAW UTF-8
    // bytes, which is exactly the oracle's hex-pair semantics (the
    // ascii() form needed the pure-ASCII guard to coincide with it;
    // the guard stays because it is the query's declared row scope).
    // The quiet filter now runs on the exploded (doc, idx, sum) longs
    // inside the same codegen stage — still nothing non-quiet ever
    // shuffles. MultimodalSpec pins kernel ≡ codepoint form on the
    // real corpus.
    "mm11_silence_runs" -> ((s, d) => {
      val FrameBytes = 16
      val w = Window.partitionBy("doc_id").orderBy("frame_idx")
      Tables.documents(s, d)
        .filter(length(col("text")) >= FrameBytes &&
          octet_length(encode(col("text"), "UTF-8")) === length(col("text")))
        .select(col("doc_id"), posexplode(graft.functions.FrameByteSums
          .sums(col("text"), FrameBytes, 1, squared = true)))
        .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
          (col("col").cast("double") / FrameBytes).as("mean_sq"))
        .filter(col("mean_sq") < 9000.0d)
        .withColumn("isl", col("frame_idx") - row_number().over(w))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("frame_idx")).as("start_frame"),
          max(col("frame_idx")).as("end_frame"),
          count(lit(1)).as("n_quiet"),
          round(min(col("mean_sq")), 6).as("min_energy"))
        .select(col("doc_id"), col("start_frame"), col("end_frame"),
          col("n_quiet"), col("min_energy"))
        .orderBy("doc_id", "start_frame")
    }),

    // MM12: aspect-ratio bucketing — the image-batching layout every
    // large diffusion/vision training run uses (NovelAI/SDXL-style:
    // group images by nearest canonical aspect so a batch shares one
    // shape and nothing is center-crop-mutilated). Dimensions are the
    // deterministic-fake stub (hash-derived 256..960 px — the MM2
    // doctrine: the decode is stubbed, the Spark-side plumbing is
    // real), the ladder is 9 canonical aspects, and NEAREST is an
    // EXACT integer argmin: comparing |w/h − wb/hb| across candidates
    // cross-multiplies to |w·hb − h·wb|·(3456/hb) — common-scaled
    // integer metrics, no float ratio, no log, tie → lowest ladder
    // index. The argmin folds in-row (array_min over a 9-struct
    // literal — no explode); batch ids are per-(bucket, shard)
    // row_numbers over 16 hash shards (the DS19/DS3 discipline —
    // a 9-bucket global window would be 9 reducers at 100 TB; each
    // shard packs its own batches of 8 independently). Pure integer
    // output; fully oracle-checked.
    "mm12_aspect_buckets" -> ((s, d) => {
      val ladder = Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16),
        (3, 2), (2, 3), (2, 1), (1, 2))
      def hx(tag: String): Column = pmod(
        conv(substring(md5(concat_ws(":", lit(tag), col("doc_id"))), 1, 2),
          16, 10).cast("long"), lit(12L))
      val best = array_min(array(ladder.zipWithIndex.map {
        case ((wb, hb), i) => struct(
          (abs(col("w") * hb - col("h") * wb) * (3456 / hb)).as("metric"),
          lit(i.toLong).as("idx"), lit(s"$wb:$hb").as("bucket"))
      }: _*))
      val wB = Window.partitionBy("bucket", "shard")
        .orderBy(col("k"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          (lit(256L) + lit(64L) * hx("w")).as("w"),
          (lit(256L) + lit(64L) * hx("h")).as("h"),
          md5(concat_ws(":", lit("mm12"), col("doc_id"))).as("k"))
        .withColumn("bucket", best.getField("bucket"))
        .withColumn("shard", pmod(
          conv(substring(col("k"), 1, 2), 16, 10).cast("long"), lit(16L)))
        .withColumn("rn", row_number().over(wB))
        .withColumn("batch", expr("(rn - 1) div 8"))
        .select(col("doc_id"), col("w"), col("h"), col("bucket"),
          col("shard"), col("batch"))
        .orderBy("doc_id")
    }),

    // MM2: decode + feature-extract over the binary payload.
    // STUB decode: a real deployment would decode image/audio here;
    // this container has no codecs, so the "decoder" is a
    // deterministic 8-bin byte histogram with identical plumbing
    // (binary in, fixed-width feature vector out, partition-parallel,
    // no shuffle). Features are flattened to scalar columns f0..f7 so
    // the result is oracle-comparable; rounding happens in the
    // DataFrame layer (round(), half-up) to match DuckDB's round().
    "mm2_feature_extract" -> ((s, d) => {
      import s.implicits._
      val bin = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      val feats = bin.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val hist = new Array[Double](8)
          var i = 0
          while (i < bytes.length) {
            hist((bytes(i) & 0xFF) >> 5) += 1.0
            i += 1
          }
          val n = math.max(bytes.length, 1).toDouble
          (id, hist.map(_ / n).toSeq)
        }
      }.toDF("doc_id", "features")
      feats.select(col("doc_id") +:
          (0 until 8).map(i => round(col("features")(i), 6).as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // MM3: frame sampling — the video/audio pattern (decode → sample
    // every k-th frame → per-frame features) with the same stub
    // decoder: the payload is treated as 16-byte frames, every 4th
    // frame is sampled, and each sampled frame emits one row with its
    // mean byte value. flatMap inside mapPartitions: rows fan out
    // per-partition with no shuffle; at scale the frame loop swaps
    // for a codec with the identical plan shape.
    "mm3_frame_sample" -> ((s, d) => {
      import s.implicits._
      val FrameBytes = 16; val Stride = 4
      val bin = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      bin.mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val nFrames = bytes.length / FrameBytes
          (0 until nFrames).filter(_ % Stride == 0).map { k =>
            var sum = 0L
            var i = k * FrameBytes
            while (i < (k + 1) * FrameBytes) { sum += bytes(i) & 0xFF; i += 1 }
            // sum/16 is an exact binary fraction — no rounding slack
            (id, k.toLong, sum / FrameBytes.toDouble)
          }
        }
      }.toDF("doc_id", "frame_idx", "frame_mean")
        .orderBy("doc_id", "frame_idx")
    }),

    // MM4: resize — area (block-mean) downsampling of the payload to a
    // fixed 8-sample signal, the 1-D form of image area interpolation.
    // Same stub-decoder contract as MM2/MM3: bytes in, fixed-width
    // output, partition-parallel, no shuffle; a real deployment swaps
    // the byte signal for decoded pixels with the identical plan.
    // Block k covers bytes [k·L/8, (k+1)·L/8) (integer division), so
    // every byte lands in exactly one block; block sums are integers
    // and the division is the only float op — bit-identical across
    // engines, no rounding slack needed.
    // ASCII guard (octet_length == length, mirrored in the oracle):
    // this side blocks over UTF-8 BYTES while the oracle indexes
    // CHARACTERS, so a multibyte document would silently diverge (and
    // one with ≥8 bytes but <8 chars would yield NULL oracle blocks).
    // Restricting both engines to single-byte text makes the two
    // formulations provably the same partition of the same sequence.
    "mm4_resize" -> ((s, d) => {
      import s.implicits._
      val Target = 8
      val bin = Tables.documents(s, d)
        .filter(octet_length(col("text")) >= Target &&
                octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      bin.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val L = bytes.length
          val out = (0 until Target).map { k =>
            val lo = k * L / Target; val hi = (k + 1) * L / Target
            var sum = 0L
            var i = lo
            while (i < hi) { sum += bytes(i) & 0xFF; i += 1 }
            sum.toDouble / (hi - lo)
          }
          (id, out)
        }
      }.toDF("doc_id", "resized")
        .select(col("doc_id") +:
          (0 until Target).map(i => col("resized")(i).as(s"r$i")): _*)
        .orderBy("doc_id")
    }),

    // MM6: patch extraction — the ViT-style tiling a patch-based
    // trainer feeds from: treat the payload as a W=32-wide raster
    // (H = L/32 rows) and cut it into 8×8 tiles; each patch gathers 8
    // STRIDED row-slices (the genuinely 2-D access pattern the 1-D
    // frame/resize stubs MM3/MM4 never touch) and emits its bytes +
    // content hash (the dedup key D1 consumes downstream). Entirely
    // relational — explode the tile grid, concat 8 substring slices —
    // so it runs as stateless codegen with ZERO shuffle and is fully
    // oracle-checked; same ASCII guard as MM4 (byte == char indexing
    // provably identical on both engines). Scale: patches fan out
    // rows per doc with no shuffle; a real deployment swaps the char
    // slices for pixel-buffer slices with the identical plan.
    "mm6_patch_extract" -> ((s, d) => {
      val P = 8; val W = 32 // patch edge, raster width (W*P = 256 min)
      Tables.documents(s, d)
        .filter(octet_length(col("text")) >= W * P &&
                octet_length(col("text")) === length(col("text")))
        .withColumn("n_tr", (length(col("text")) / (W * P)).cast("int"))
        .withColumn("tr", explode(sequence(lit(0), col("n_tr") - 1)))
        .withColumn("tc", explode(sequence(lit(0), lit(W / P - 1))))
        .select(col("doc_id"), col("tr").cast("long").as("tile_row"),
          col("tc").cast("long").as("tile_col"),
          concat((0 until P).map(i =>
            expr(s"substring(text, (tr*$P + $i)*$W + tc*$P + 1, $P)")): _*)
            .as("patch"))
        .withColumn("patch_hash", md5(col("patch")))
        .orderBy("doc_id", "tile_row", "tile_col")
    }),

    // MM7: linear-interpolation resample — the audio-style fractional
    // resample next to MM4's area (block-mean) form: 16 output taps at
    // positions k·(L−1)/15, each a lerp between its two neighboring
    // samples. Entirely relational (explode + substring/ascii + pure
    // arithmetic projection — codegen, zero shuffle) and exact: tap
    // positions, fractions, and the lerp are the same IEEE ops over
    // the same integers on both engines, so raw doubles hash-match.
    // Same ASCII guard as MM4; the tap at the last position has
    // frac = 0, so the clamped hi index never contributes.
    "mm7_resample_linear" -> ((s, d) => {
      val T = 16
      Tables.documents(s, d)
        .filter(octet_length(col("text")) >= T &&
                octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), col("text"), length(col("text")).as("L"))
        .withColumn("k", explode(sequence(lit(0), lit(T - 1))))
        .withColumn("pos",
          (col("k") * (col("L") - 1)).cast("double") / (T - 1).toDouble)
        .withColumn("lo", floor(col("pos")).cast("int"))
        .withColumn("frac", col("pos") - col("lo"))
        .withColumn("blo",
          ascii(expr("substring(text, lo + 1, 1)")).cast("double"))
        .withColumn("bhi",
          ascii(expr("substring(text, least(lo + 2, L), 1)")).cast("double"))
        .select(col("doc_id"), col("k").cast("long").as("k"),
          (col("blo") + col("frac") * (col("bhi") - col("blo"))).as("y"))
        .orderBy("doc_id", "k")
    }),

    // MM5a: the perceptual hash itself (bitstring form) — fully
    // oracle-checked, unlike the token-hash simhash (D4): every
    // quantity is an integer sum or an exact int/int division.
    "mm5_percept_hash" -> ((s, d) =>
      perceptHash(s, d)
        .select(col("doc_id"), col("phash"))
        .orderBy("doc_id")),

    // MM5b: perceptual near-dup pairs at Hamming ≤ 11 — the image-dedup
    // decision. Spark side searches via banding (pigeonhole-complete:
    // nothing inside the radius can be missed) + popcount verify; the
    // oracle recomputes the SAME pair set exhaustively in SQL, so the
    // banded scale path is itself oracle-checked end to end. Band
    // count/width is the radius/pruning dial, and radius 11 of 64 sits
    // at its weak end: narrow buckets over skewed text-derived hashes
    // collide heavily (measured at the old 16×4-bit geometry:
    // candidate volume ≈ all pairs at 5k docs), so the query pays a
    // real candidate scan and what keeps it cheap is (a) the round-15
    // pigeonhole-MINIMAL banding — 12 uneven bands, see hammingPairs —
    // which cuts candidates ~3× at identical recall, and (b) the
    // verify-before-dedup below — one codegen popcount per collision,
    // shuffle only survivors. A production corpus dedups at a tighter
    // radius where wider bands (8×8 → radius 7) prune 256× per band;
    // this corpus has no pairs inside radius 7 below sf0.1, so the
    // demo keeps the wide radius honestly.
    // 12 bands (4×6 + 8×5 bits), the pigeonhole MINIMUM for radius 11
    // (round 15, guide §2.3): versus the old 16×4-bit geometry each
    // band's bucket count grows 2-4×, so candidate volume drops ~3×
    // while recall stays complete (≤ 11 differing bands of 12 ⇒ one
    // band equal) — the pair SET is unchanged, only the search is.
    "mm5_phash_pairs" -> ((s, d) =>
      Dedup.hammingPairs(perceptHash(s, d), "doc_id", "ph64",
        bands = 12, maxDist = 11)),

    // MM5c: the PRODUCTION-geometry pair search — 8 bands × 8 bits at
    // Hamming ≤ 7, the shape the MM5b comment names as the scale
    // setting: 2⁸ = 256 buckets per band prune 16× harder than MM5b's
    // 2⁴, so candidate volume stays far below all-pairs (the one flaw
    // MM5b's demo radius had). The natural corpus has no pairs inside
    // radius 7 below sf0.1, so the query PLANTS near-duplicates
    // deterministically: for every 17th hashable doc, a copy (id +
    // 10⁸) with first and last characters swapped — the byte multiset
    // (hence the global mean) is preserved and exactly two blocks can
    // change, so each planted copy sits at Hamming ≤ 2 of its source
    // BY CONSTRUCTION and the result is provably non-vacuous
    // (MultimodalSpec asserts every planted pair surfaces). The
    // banding engine is unchanged (Dedup.hammingPairs, pigeonhole-
    // complete through Hamming 7 at 8 bands); the oracle recomputes
    // the same planted corpus + exhaustive pair scan in SQL, so the
    // scale path is oracle-checked end to end like MM5b.
    "mm5_phash_pairs_tight" -> ((s, d) =>
      Dedup.hammingPairs(phashTight(s, d),
        "doc_id", "ph64", bands = 8, maxDist = 7)),

    // MM9: image near-dup CLUSTERS — the multimodal mirror of the
    // text pipeline's D10: the oracle-checked MM5c pair graph
    // resolved to canonical groups by the same driver-loop connected
    // components (min-id election), so "keep one of each image
    // family" becomes a join against this table exactly as text
    // dedup joins D10's. Pairs, vertices (the hashable planted
    // corpus), and the closure are all integer-exact → fully
    // oracle-checked (DuckDB recursive CTE over the same planted
    // corpus + exhaustive pair scan).
    "mm9_image_clusters" -> ((s, d) => {
      val pairs = Dedup.hammingPairs(phashTight(s, d), "doc_id", "ph64",
        bands = 8, maxDist = 7).select(col("da"), col("db"))
      val verts = phashTight(s, d).select(col("doc_id"))
      Dedup.connectedComponents(pairs, verts)._1
        .select(col("doc_id"), col("comp").as("canonical_id"))
        .orderBy("doc_id")
    })
  )

  /** Planted-corpus perceptual hashes, materialized once per
    * (session, dir) — hashing is the corpus pass, searching is the
    * repeated operation (each incremental batch re-searches against
    * the same signatures), so production persists the hash table and
    * the bench times the build as its own `phash_tight_build` entry.
    * Lifecycle per [[graft.MaterializedTable]]. */
  val phashTight = graft.MaterializedTable("phash_tight_build")(
    (s, d) => perceptHashOf(s, plantedCorpus(s, d)))

  /** documents ∪ planted near-duplicates (the MM5c fixture): every
    * 17th HASHABLE doc reappears as id + 10⁸ with first/last
    * characters swapped. Swapping two characters preserves length,
    * ASCII-ness, and the global byte mean; only the two blocks
    * containing positions 1 and L can change, bounding the planted
    * pair at Hamming ≤ 2. The plant guard equals the hash guard so
    * both engines plant exactly the docs that get hashed. */
  private def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = base
      .filter(octet_length(col("text")) >= 64 &&
              octet_length(col("text")) === length(col("text")) &&
              col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000000L).as("doc_id"),
        expr("""concat(substr(text, length(text), 1),
                       substr(text, 2, length(text) - 2),
                       substr(text, 1, 1))""").as("text"))
    base.unionByName(planted)
  }

  /** The aHash computation as a DuckDB CTE list ending in
    * `ph(doc_id, phash)` — interpolated into ALL mm5 oracles so the
    * pair searches verify exactly the hash the hash oracle defines;
    * `src` is the corpus relation (raw `documents`, or the planted
    * MM5c corpus). */
  private def phashBody(src: String) =
    s"""d AS (
         SELECT doc_id, text, length(text) AS L FROM $src
         WHERE octet_length(encode(text)) >= 64
           AND octet_length(encode(text)) = length(text)),
       g AS (
         SELECT doc_id, text, L,
                CAST(list_sum(list_transform(range(1, L + 1),
                  i -> CAST(ascii(substring(text, CAST(i AS INT), 1))
                       AS BIGINT))) AS DOUBLE) / L AS gmean
         FROM d),
       blocks AS (
         SELECT doc_id, k,
                list_sum(list_transform(
                  range(k * L // 64 + 1, (k + 1) * L // 64 + 1),
                  i -> CAST(ascii(substring(text, CAST(i AS INT), 1))
                       AS BIGINT)))
                / CAST((k + 1) * L // 64 - k * L // 64 AS DOUBLE) AS v,
                gmean
         FROM g, unnest(generate_series(0, 63)) AS u(k)),
       ph AS (
         SELECT doc_id,
                string_agg(CASE WHEN v > gmean THEN '1' ELSE '0' END,
                           '' ORDER BY k) AS phash
         FROM blocks GROUP BY doc_id)"""

  /** Oracle CTE `corpus`: the documents plus, for each hashable
    * (ASCII, 64+ chars) doc with id divisible by 17, a rotated copy
    * under id + 100000000 — the planted near-duplicates of MM5c/MM9. */
  private val PlantedCorpusCte =
    """corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000000 AS doc_id,
                  concat(substr(text, length(text), 1),
                         substr(text, 2, length(text) - 2),
                         substr(text, 1, 1)) AS text
           FROM documents
           WHERE octet_length(encode(text)) >= 64
             AND octet_length(encode(text)) = length(text)
             AND doc_id % 17 = 0)"""

  /** MM5/MM5c oracle tail over `corpus`: the phash CTEs, then every
    * pair of docs within Hamming distance `radius`. */
  private def phashPairsSql(corpus: String, radius: Int): String =
    s"""${phashBody(corpus)},
         pairs AS (
           SELECT a.doc_id AS da, b.doc_id AS db,
                  CAST(len(list_filter(generate_series(1, 64),
                    i -> substring(a.phash, CAST(i AS INT), 1) <>
                         substring(b.phash, CAST(i AS INT), 1)))
                    AS BIGINT) AS hamming
           FROM ph a JOIN ph b ON a.doc_id < b.doc_id)
         SELECT da, db, hamming FROM pairs
         WHERE hamming <= $radius
         ORDER BY da, db"""

  val oracles: Map[String, String] = Map(
    // same tiling arithmetic, DuckDB's range() standing in for the
    // exploded grid; the 8 strided slices concat in fixed order
    "mm6_patch_extract" ->
      """WITH g AS (
           SELECT doc_id, text, length(text) // 256 AS n_tr
           FROM documents
           WHERE octet_length(encode(text)) >= 256
             AND octet_length(encode(text)) = length(text)),
         tiles AS (
           SELECT doc_id, text, k // 4 AS tile_row, k % 4 AS tile_col
           FROM (SELECT doc_id, text, unnest(range(n_tr * 4)) AS k
                 FROM g)),
         p AS (
           SELECT doc_id, tile_row, tile_col,
                  substring(text, (tile_row*8 + 0)*32 + tile_col*8 + 1, 8)
               || substring(text, (tile_row*8 + 1)*32 + tile_col*8 + 1, 8)
               || substring(text, (tile_row*8 + 2)*32 + tile_col*8 + 1, 8)
               || substring(text, (tile_row*8 + 3)*32 + tile_col*8 + 1, 8)
               || substring(text, (tile_row*8 + 4)*32 + tile_col*8 + 1, 8)
               || substring(text, (tile_row*8 + 5)*32 + tile_col*8 + 1, 8)
               || substring(text, (tile_row*8 + 6)*32 + tile_col*8 + 1, 8)
               || substring(text, (tile_row*8 + 7)*32 + tile_col*8 + 1, 8)
                  AS patch
           FROM tiles)
         SELECT doc_id, tile_row, tile_col, patch, md5(patch) AS patch_hash
         FROM p ORDER BY doc_id, tile_row, tile_col""",
    "mm7_resample_linear" ->
      """WITH g AS (
           SELECT doc_id, text, length(text) AS L
           FROM documents
           WHERE octet_length(encode(text)) >= 16
             AND octet_length(encode(text)) = length(text)),
         e AS (
           SELECT doc_id, text, L, unnest(range(16)) AS k FROM g),
         p AS (
           SELECT doc_id, k, text, L,
                  CAST(k * (L - 1) AS DOUBLE) / 15 AS pos
           FROM e),
         q AS (
           SELECT doc_id, k, pos, text, L,
                  CAST(floor(pos) AS INT) AS lo
           FROM p)
         SELECT doc_id, k,
                (ascii(substring(text, lo + 1, 1)) + (pos - lo) *
                 (ascii(substring(text, least(lo + 2, L), 1))
                  - ascii(substring(text, lo + 1, 1)))) AS y
         FROM q ORDER BY doc_id, k""",
    "mm1_binary_meta" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS content_hash,
                substring(text, 1, 4) AS magic
         FROM documents ORDER BY doc_id""",
    // MM10: identical hex-pair byte arithmetic (frame means are exact
    // sums/16), the same lag window, the same 8.0 threshold
    "mm10_scene_change" ->
      """WITH b AS (
           SELECT doc_id, upper(hex(encode(text))) AS hx,
                  octet_length(encode(text)) // 16 AS n_frames
           FROM documents WHERE octet_length(encode(text)) >= 16),
         fr AS (
           SELECT doc_id, hx,
                  unnest(list_filter(range(0, n_frames),
                    k -> k % 4 = 0)) AS frame_idx
           FROM b),
         m AS (
           SELECT doc_id, frame_idx,
                  CAST(list_sum(list_transform(range(0, 16),
                    i -> ('0x' || substring(hx,
                      CAST((frame_idx * 16 + i) * 2 + 1 AS INT), 2))
                      ::BIGINT)) AS DOUBLE) / 16 AS frame_mean
           FROM fr),
         lagd AS (
           SELECT doc_id, frame_idx, frame_mean,
                  lag(frame_mean, 1) OVER (
                    PARTITION BY doc_id ORDER BY frame_idx) AS prev
           FROM m)
         SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                round(frame_mean, 6) AS frame_mean,
                CAST(CASE WHEN prev IS NOT NULL
                          AND abs(frame_mean - prev) >= 8.0
                     THEN 1 ELSE 0 END AS BIGINT) AS is_boundary
         FROM lagd ORDER BY doc_id, frame_idx""",
    // every frame (no stride), square sums, the same gaps-and-islands
    // run merge over quiet frames; the ASCII guard mirrors the
    // engine's (ascii(substr) byte reads are exact only there)
    "mm11_silence_runs" ->
      """WITH b AS (
           SELECT doc_id, upper(hex(encode(text))) AS hx,
                  octet_length(encode(text)) // 16 AS n_frames
           FROM documents
           WHERE octet_length(encode(text)) >= 16
             AND octet_length(encode(text)) = length(text)),
         fr AS (
           SELECT doc_id, hx, unnest(range(0, n_frames)) AS frame_idx
           FROM b),
         m AS (
           SELECT doc_id, frame_idx,
                  CAST(list_sum(list_transform(range(0, 16),
                    i -> POWER(('0x' || substring(hx,
                      CAST((frame_idx * 16 + i) * 2 + 1 AS INT), 2))
                      ::BIGINT, 2))) AS DOUBLE) / 16 AS mean_sq
           FROM fr),
         quiet AS (
           SELECT doc_id, frame_idx, mean_sq,
                  frame_idx - row_number() OVER (
                    PARTITION BY doc_id ORDER BY frame_idx) AS isl
           FROM m WHERE mean_sq < 9000.0)
         SELECT doc_id, CAST(min(frame_idx) AS BIGINT) AS start_frame,
                CAST(max(frame_idx) AS BIGINT) AS end_frame,
                CAST(count(*) AS BIGINT) AS n_quiet,
                round(min(mean_sq), 6) AS min_energy
         FROM quiet GROUP BY doc_id, isl
         ORDER BY doc_id, start_frame""",
    // identical hash-derived geometry; the in-row struct argmin
    // re-expressed as a ladder cross join + row_number pick (the
    // integer metric is engine-order-free, so both forms agree)
    "mm12_aspect_buckets" ->
      """WITH geo AS (
           SELECT doc_id,
                  256 + 64 * (('0x' || substring(
                    md5('w:' || CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                    % 12) AS w,
                  256 + 64 * (('0x' || substring(
                    md5('h:' || CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
                    % 12) AS h,
                  md5('mm12:' || CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         ladder AS (
           SELECT * FROM (VALUES
             (0, 1, 1, 3456, '1:1'),  (1, 4, 3, 1152, '4:3'),
             (2, 3, 4, 864, '3:4'),   (3, 16, 9, 384, '16:9'),
             (4, 9, 16, 216, '9:16'), (5, 3, 2, 1728, '3:2'),
             (6, 2, 3, 1152, '2:3'),  (7, 2, 1, 3456, '2:1'),
             (8, 1, 2, 1728, '1:2'))
             AS t(idx, wb, hb, scale, bucket)),
         scored AS (
           SELECT g.doc_id, g.w, g.h, g.k, l.bucket,
                  row_number() OVER (PARTITION BY g.doc_id
                    ORDER BY abs(g.w * l.hb - g.h * l.wb) * l.scale,
                             l.idx) AS pick
           FROM geo g CROSS JOIN ladder l),
         sharded AS (
           SELECT doc_id, w, h, bucket,
                  ('0x' || substring(k, 1, 2))::BIGINT % 16 AS shard,
                  row_number() OVER (
                    PARTITION BY bucket,
                                 ('0x' || substring(k, 1, 2))::BIGINT % 16
                    ORDER BY k, doc_id) AS rn
           FROM scored WHERE pick = 1)
         SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
                bucket, CAST(shard AS BIGINT) AS shard,
                CAST((rn - 1) // 8 AS BIGINT) AS batch
         FROM sharded ORDER BY doc_id""",
    // same nibble classes from the hex expansion; Spark's hex() is
    // uppercase — upper() aligns DuckDB's
    // MM13: same nibble-string expansion, the SAME 16 positional
    // terms left-associated (generated so the order is one source of
    // truth), E an exact binary fraction
    "mm13_byte_chi2" -> {
      def cnt(c: Char) =
        s"CAST(length(hs) - length(replace(hs, '$c', '')) AS DOUBLE)"
      val terms = "0123456789ABCDEF".map(c =>
        s"(${cnt(c)} - e) * (${cnt(c)} - e) / e").mkString("\n                + ")
      s"""WITH b AS (
           SELECT doc_id,
                  regexp_replace(upper(hex(encode(text))), '(.).', '\\1',
                                 'g') AS hs
           FROM documents WHERE octet_length(encode(text)) > 0),
         t AS (
           SELECT doc_id, CAST(length(hs) AS BIGINT) AS n_bytes, hs,
                  CAST(length(hs) AS DOUBLE) / 16 AS e
           FROM b)
         SELECT doc_id, n_bytes,
                ($terms) AS chi2
         FROM t ORDER BY doc_id"""
    },
    // MM14: the same codepoint reads (ASCII-guarded), five exact
    // integer sums over the adjacent-pair range, the identical
    // num/(√vx·√vy) chain — integers ≪2⁵³ so the double casts are
    // exact on both engines
    "mm14_byte_autocorr" ->
      """WITH b AS (
           SELECT doc_id,
                  list_transform(generate_series(1, length(text)),
                    i -> CAST(ascii(substring(text, CAST(i AS INT), 1))
                              AS BIGINT)) AS bv,
                  CAST(length(text) - 1 AS BIGINT) AS np
           FROM documents
           WHERE length(text) >= 2
             AND octet_length(encode(text)) = length(text)),
         t AS (
           SELECT doc_id, np,
                  list_sum(list_transform(generate_series(1, CAST(np AS INT)),
                    i -> bv[i])) AS sx,
                  list_sum(list_transform(
                    generate_series(2, CAST(np AS INT) + 1),
                    i -> bv[i])) AS sy,
                  list_sum(list_transform(generate_series(1, CAST(np AS INT)),
                    i -> bv[i] * bv[i])) AS sxx,
                  list_sum(list_transform(
                    generate_series(2, CAST(np AS INT) + 1),
                    i -> bv[i] * bv[i])) AS syy,
                  list_sum(list_transform(generate_series(1, CAST(np AS INT)),
                    i -> bv[i] * bv[i + 1])) AS sxy
           FROM b),
         g AS (
           SELECT doc_id, np,
                  np * sxy - sx * sy AS num,
                  np * sxx - sx * sx AS vx,
                  np * syy - sy * sy AS vy
           FROM t)
         SELECT doc_id, np,
                CAST(num AS DOUBLE) /
                  (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))
                  AS autocorr
         FROM g WHERE vx > 0 AND vy > 0
         ORDER BY doc_id""",
    // the same hex/encode nibble classes with positional pairing;
    // r6'd terms into decimal-pinned order-free sums on both sides
    "mm15_byte_cond_entropy" ->
      """WITH pos AS (
           SELECT doc_id, text,
                  unnest(range(1, octet_length(encode(text)))) AS i
           FROM documents WHERE octet_length(encode(text)) >= 2),
         pr AS (
           SELECT doc_id,
                  substring(upper(hex(encode(text))), (i - 1) * 2 + 1, 1)
                    || substring(upper(hex(encode(text))), i * 2 + 1, 1)
                    AS pair
           FROM pos),
         cc AS (SELECT doc_id, pair, count(*) AS c
                FROM pr GROUP BY 1, 2),
         tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS np
                 FROM cc GROUP BY 1),
         hp AS (
           SELECT cc.doc_id,
                  CAST(CAST(sum(CAST(round(
                    -(CAST(c AS DOUBLE) / np) *
                     ln(CAST(c AS DOUBLE) / np), 6)
                    AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS h_pair
           FROM cc JOIN tot USING (doc_id) GROUP BY 1),
         mc AS (
           SELECT doc_id, substring(pair, 1, 1) AS a,
                  CAST(sum(c) AS BIGINT) AS c
           FROM cc GROUP BY 1, 2),
         hm AS (
           SELECT mc.doc_id,
                  CAST(CAST(sum(CAST(round(
                    -(CAST(c AS DOUBLE) / np) *
                     ln(CAST(c AS DOUBLE) / np), 6)
                    AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS h_prev
           FROM mc JOIN tot USING (doc_id) GROUP BY 1)
         SELECT tot.doc_id, tot.np AS n_pairs, hp.h_pair, hm.h_prev,
                hp.h_pair - hm.h_prev AS h_cond
         FROM tot JOIN hp USING (doc_id) JOIN hm USING (doc_id)
         ORDER BY doc_id""",
    "mm8_byte_entropy" ->
      """WITH nib AS (
           SELECT doc_id,
                  unnest(list_transform(
                    range(1, octet_length(encode(text)) + 1),
                    i -> substring(upper(hex(encode(text))),
                                   (i - 1) * 2 + 1, 1))) AS cls
           FROM documents WHERE octet_length(encode(text)) > 0),
         cc AS (SELECT doc_id, cls, count(*) AS cnt FROM nib GROUP BY 1, 2),
         tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bytes,
                        count(*) AS n_classes FROM cc GROUP BY 1),
         terms AS (
           SELECT cc.doc_id, cc.cls,
                  -(CAST(cc.cnt AS DOUBLE) / tot.n_bytes) *
                   ln(CAST(cc.cnt AS DOUBLE) / tot.n_bytes) AS t
           FROM cc JOIN tot USING (doc_id)),
         h AS (SELECT doc_id, list_sum(list(t ORDER BY cls)) AS h
               FROM terms GROUP BY 1)
         SELECT tot.doc_id, tot.n_bytes, tot.n_classes,
                round(h.h, 6) AS entropy
         FROM tot JOIN h USING (doc_id)
         ORDER BY doc_id""",
    // documents.text is ASCII (octet_length == length holds corpus-wide),
    // so code points == bytes and ascii()//32 reproduces byte>>5.
    "mm2_feature_extract" ->
      """WITH b AS (
           SELECT doc_id,
                  list_transform(range(1, length(text) + 1),
                    i -> ascii(substring(text, i, 1)) // 32) AS bins,
                  greatest(CAST(length(text) AS DOUBLE), 1) AS n
           FROM documents)
         SELECT doc_id,
                round(CAST(len(list_filter(bins, x -> x = 0)) AS DOUBLE) / n, 6) AS f0,
                round(CAST(len(list_filter(bins, x -> x = 1)) AS DOUBLE) / n, 6) AS f1,
                round(CAST(len(list_filter(bins, x -> x = 2)) AS DOUBLE) / n, 6) AS f2,
                round(CAST(len(list_filter(bins, x -> x = 3)) AS DOUBLE) / n, 6) AS f3,
                round(CAST(len(list_filter(bins, x -> x = 4)) AS DOUBLE) / n, 6) AS f4,
                round(CAST(len(list_filter(bins, x -> x = 5)) AS DOUBLE) / n, 6) AS f5,
                round(CAST(len(list_filter(bins, x -> x = 6)) AS DOUBLE) / n, 6) AS f6,
                round(CAST(len(list_filter(bins, x -> x = 7)) AS DOUBLE) / n, 6) AS f7
         FROM b ORDER BY doc_id""",
    // ASCII corpus: ascii(char) == byte value, so frame means over
    // text substrings reproduce the byte-frame means exactly.
    "mm3_frame_sample" ->
      """WITH f AS (
           SELECT doc_id, text,
                  unnest(generate_series(0,
                    CAST(length(text) // 16 AS INT) - 1)) AS k
           FROM documents)
         SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
                list_sum(list_transform(generate_series(1, 16),
                  i -> ascii(substring(text, k * 16 + i, 1)))) / 16.0
                  AS frame_mean
         FROM f WHERE k % 4 = 0
         ORDER BY doc_id, frame_idx""",
    // MM5: ascii(char) == byte under the same ASCII guard; block
    // bounds, the global mean, and every comparison are exact, so the
    // hash — and the exhaustive pair search over it — reproduce the
    // banded Spark path bit-for-bit. Both oracles interpolate ONE
    // shared hash CTE [[phashCte]], so the pair search can never
    // silently verify a different hash than the hash oracle.
    "mm5_percept_hash" ->
      s"""WITH ${phashBody("documents")}
         SELECT doc_id, phash FROM ph ORDER BY doc_id""",
    "mm5_phash_pairs" ->
      s"""WITH ${phashPairsSql("documents", 11)}""",
    // same hash CTE over the PLANTED corpus; exhaustive pair scan at
    // the production radius verifies the 8×8-band Spark path exactly.
    "mm5_phash_pairs_tight" ->
      s"""WITH $PlantedCorpusCte, ${phashPairsSql("corpus", 7)}""",
    // the MM5c pair scan extended with the d10-style recursive
    // closure: min-reachable-id per hashable planted-corpus doc
    "mm9_image_clusters" ->
      s"""WITH RECURSIVE $PlantedCorpusCte,
         ${phashBody("corpus")},
         pairs AS (
           SELECT a.doc_id AS da, b.doc_id AS db
           FROM ph a JOIN ph b ON a.doc_id < b.doc_id
           WHERE len(list_filter(generate_series(1, 64),
                   i -> substring(a.phash, CAST(i AS INT), 1) <>
                        substring(b.phash, CAST(i AS INT), 1))) <= 7),
         edges AS (SELECT da AS src, db AS dst FROM pairs
                   UNION SELECT db AS src, da AS dst FROM pairs),
         ${Dedup.reachCte("edges", "ph")}
         SELECT id AS doc_id, min(r) AS canonical_id FROM reach
         GROUP BY id ORDER BY doc_id""",
    // ascii(char) == byte value under the ASCII guard (single-byte
    // text only, enforced in BOTH engines — see the Spark side); block
    // bounds use the same integer division (// = Scala int division).
    "mm4_resize" ->
      """WITH d AS (
           SELECT doc_id, text, length(text) AS L FROM documents
           WHERE octet_length(encode(text)) >= 8
             AND octet_length(encode(text)) = length(text)),
         blocks AS (
           SELECT doc_id, k,
                  list_sum(list_transform(
                    range(k * L // 8 + 1, (k + 1) * L // 8 + 1),
                    i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT)))
                    / CAST((k + 1) * L // 8 - k * L // 8 AS DOUBLE) AS v
           FROM d, unnest(generate_series(0, 7)) AS u(k))
         SELECT doc_id,
                max(CASE WHEN k = 0 THEN v END) AS r0,
                max(CASE WHEN k = 1 THEN v END) AS r1,
                max(CASE WHEN k = 2 THEN v END) AS r2,
                max(CASE WHEN k = 3 THEN v END) AS r3,
                max(CASE WHEN k = 4 THEN v END) AS r4,
                max(CASE WHEN k = 5 THEN v END) AS r5,
                max(CASE WHEN k = 6 THEN v END) AS r6,
                max(CASE WHEN k = 7 THEN v END) AS r7
         FROM blocks GROUP BY doc_id ORDER BY doc_id"""
  )
}
