package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{RollingFingerprint, RollingFp}

/** Text-analysis pillar over `documents.text`: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting,
  * lexicon sentiment (the F6 VADER-subset, relational form), exact
  * dedup and n-gram Jaccard near-dup pairs.
  *
  * Reference: sentiment scoring `scripts/03_add_sentiment.py:25-28`;
  * dedup-by-content `scripts/02_fetch_news.py:117-120`. The rest is
  * the training-data-pipeline extension set (builder brief).
  *
  * Scale notes: everything is per-document map work + hash aggregation;
  * the Jaccard pair query joins on shared shingles (inverted-index
  * join), which at 100 TB is run after MinHash banding (Dedup.scala)
  * has cut the candidate space — here it is additionally bounded to a
  * fixed doc subset so the oracle stays checkable.
  */
object TextAnalysis {

  private def r6(c: Column): Column = round(c, 6)

  /** Materialized-intermediate dump for the F7 oracle (the D3SigDump
    * pattern — see Dedup for the serial-flow caveat): per-doc
    * token-valence arrays + capped exclamation count; both engines
    * recompute the compound from these identical bytes. Keyed by the
    * sf dir (see [[Dumps]]) so the driver's interleaved sf0.01
    * correctness pass and sf0.1 bench can't clobber each other. */
  private[operators] def F7VaderDump(d: String) = Dumps.path("f7_vader", d)

  /** Whitespace tokenization of lowercased text — the one definition
    * shared by every query here AND by the DuckDB oracles. */
  /** THE corpus tokenizer — whitespace split of lower(trim(text)).
    * Single source of truth shared by every text operator (Dedup
    * shingles, Curation signals, DatasetOps packing): the DuckDB
    * oracles all hardcode the matching string_split_regex, and the
    * cross-query anchors (pipe1↔txt*, decon1↔d2) assume identical
    * tokenization — change it here or nowhere. */
  private[operators] def toks: Column =
    split(lower(trim(col("text"))), "\\s+")

  /** VADER-style lexicon subset (public VADER algorithm; valences on
    * the corpus vocabulary + common sentiment words). The full rule
    * set (negation/boosters/punctuation) is in graft.functions.Vader;
    * this relational form is the oracle-checkable core. */
  val lexicon: Seq[(String, Double)] = Seq(
    "fast" -> 1.9, "slow" -> -1.6, "error" -> -2.2, "big" -> 0.4,
    "small" -> -0.4, "good" -> 1.9, "bad" -> -2.5, "great" -> 3.1,
    "terrible" -> -2.1, "best" -> 3.2, "worst" -> -3.1, "merge" -> 0.2,
    "value" -> 0.9, "key" -> 0.5, "query" -> 0.1, "stream" -> 0.3,
    "filter" -> -0.1, "sort" -> 0.1, "hash" -> -0.2, "scan" -> -0.3)

  private def lexiconSqlValues: String =
    lexicon.map { case (w, v) => s"('$w', $v)" }.mkString(", ")

  /** D2's engine, parameterized (shared with D10's cluster builder):
    * exact n-gram Jaccard pairs over the bounded `doc_id < maxId`
    * slice via the inverted-index shingle join — intersection counts
    * from a shingle equi-join, never an all-pairs document compare. */
  /** The two demo-slice exact-Jaccard pair graphs, materialized once
    * per (session, dir) — round 14: the (maxId=100, J≥0.02) graph fed
    * FIVE bench entries (d10_dup_clusters, d20_keep_best via d10,
    * d11_pagerank, d14_label_prop, ds13_cluster_split) and the
    * (maxId=200, J≥0.01) graph two (d12_triangle_count,
    * d13_clustering_coeff via d12 + its own degree pass), each
    * re-running the exhaustive shingle self-join per construction.
    * Bench times the builds as `slice100_build` / `slice200_build`
    * (the corpusPairs convention). */
  private[graft] val slicePairs100 = new graft.MaterializedTable(
    (s, d) => ngramJaccardPairs(s, d, maxId = 100, minJ = 0.02))
  private[graft] val slicePairs200 = new graft.MaterializedTable(
    (s, d) => ngramJaccardPairs(s, d, maxId = 200, minJ = 0.01))

  private[operators] def ngramJaccardPairs(s: SparkSession, d: String,
      maxId: Long, minJ: Double): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < maxId)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
    val shingles = docs.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(0), size(col("t")) - 3),
        i => concat_ws(" ",
          element_at(col("t"), i + 1),
          element_at(col("t"), i + 2),
          element_at(col("t"), i + 3))))).as("sh"))
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = shingles.alias("a"); val b = shingles.alias("b")
    val inter = a.join(b,
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "da")
        .withColumnRenamed("sz", "sza"), Seq("da"))
      .join(sizes.withColumnRenamed("doc_id", "db")
        .withColumnRenamed("sz", "szb"), Seq("db"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("sza") + col("szb") - col("i")))
      .filter(col("jaccard") >= minJ)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TXT1: token counting (whitespace tokenizer) + char accounting.
    "txt1_token_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_chk"),
          r6(length(regexp_replace(col("text"), "\\s", "")).cast("double") /
             size(toks)).as("avg_token_len"))
        .orderBy("doc_id")),

    // TXT2: quality scoring — punct/digit/upper/stopword ratios.
    "txt2_quality_score" -> ((s, d) => {
      val stop = Seq("the", "a", "of", "and", "to", "in", "is", "on")
      val nTok = size(toks).cast("double")
      val punct = size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0)))
        .cast("double")
      val digit = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
        .cast("double")
      val upper = size(regexp_extract_all(col("text"), lit("[A-Z]"), lit(0)))
        .cast("double")
      val stopN = size(filter(toks, t => t.isInCollection(stop))).cast("double")
      val len = length(col("text")).cast("double")
      Tables.documents(s, d)
        // an empty doc has no quality signals -> NULL ratios (ANSI /0
        // guard; TextDegenerateSpec ratchet). nTok never reaches 0 on
        // nonempty text (split of any nonempty string yields >= 1
        // token), but the guard keys on it anyway for symmetry.
        .select(col("doc_id"),
          when(len > 0, r6(punct / len)).as("punct_ratio"),
          when(len > 0, r6(digit / len)).as("digit_ratio"),
          when(len > 0, r6(upper / len)).as("upper_ratio"),
          when(nTok > 0, r6(stopN / nTok)).as("stopword_ratio"),
          when(len > 0 && nTok > 0,
            r6(lit(0.5) * (stopN / nTok) +
               lit(0.3) * (lit(1.0) - punct / len) +
               lit(0.2) * (lit(1.0) - digit / len))).as("quality"))
        .orderBy("doc_id")
    }),

    // TXT3: language-ID heuristic — stopword votes with a fixed
    // priority order (en > de > es) on ties.
    "txt3_langid" -> ((s, d) => {
      def votes(words: Seq[String]): Column =
        size(filter(toks, t => t.isInCollection(words))).cast("long")
      val en = votes(Seq("the", "and", "of", "to", "is", "a"))
      val de = votes(Seq("der", "die", "das", "und", "ist", "ein"))
      val es = votes(Seq("el", "la", "los", "de", "es", "un"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("lang_actual"),
          en.as("en_votes"), de.as("de_votes"), es.as("es_votes"),
          when(en >= de && en >= es, "en")
            .when(de >= es, "de").otherwise("es").as("lang_pred"))
        .orderBy("doc_id")
    }),

    // TXT4: document fingerprint — md5 of whitespace-normalized text.
    "txt4_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
        .orderBy("doc_id")),

    // TXT5: BPE-ish regex tokenization (the GPT-2 pre-tokenizer idea:
    // letter runs, digit runs, single punctuation marks as separate
    // tokens — the unit a byte-pair encoder would merge from). Counts
    // per class; the whitespace tokenizer stays TXT1. The token array
    // is materialized in its own projection (referenced 4× downstream,
    // so CollapseProject keeps it): inlined, the regex scan would run
    // once per output column, and the HOF filters fall back to
    // interpreted eval where no subexpression elimination saves it.
    // Class counts need no second regex: letter/digit runs are decided
    // by their first char (the extraction grammar guarantees a token
    // never mixes classes).
    "txt5_bpe_tokens" -> ((s, d) => {
      val first = (t: Column) => ascii(substring(t, 1, 1))
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^\\sa-z0-9]"), lit(0)).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_bpe_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_unique"),
          size(filter(col("toks"), t =>
            first(t).between(97, 122))).cast("long").as("n_alpha"),
          size(filter(col("toks"), t =>
            first(t).between(48, 57))).cast("long").as("n_num"))
        .orderBy("doc_id")
    }),

    // TXT6: rolling-hash fingerprinting (winnowing, Schleimer et al.
    // 2003): Rabin–Karp polynomial hashes over 8-char grams, then the
    // minimum hash of each 4-gram window — the classic local
    // document-fingerprint scheme (TXT4's md5 is the global form).
    // Summary scalars (count/extremes) keep the result
    // comparator-hashable.
    //
    // The fingerprint pass is graft.functions.RollingFingerprint — a
    // codegen Catalyst expression doing one O(len·K) array pass per
    // document inside whole-stage codegen. (An equivalent
    // transform/aggregate/slice HOF formulation exists in
    // TextAnalysisSpec as the cross-check; HOFs never enter codegen,
    // so as the query it was ~8× slower.) The length filter sits on
    // the raw column so the kernel runs once per surviving row: the
    // kernel's contract maps short docs to EMPTY arrays, so filtering
    // on size(fps) would be equivalent but would let the pushed-down
    // predicate re-evaluate the kernel. SQL trim = spaces only, the
    // kernel's normalization exactly.
    "txt6_rolling_fp" -> ((s, d) => {
      val fps = col("fps")
      Tables.documents(s, d)
        .filter(length(trim(col("text"))) >= RollingFp.K + RollingFp.W - 1)
        .select(col("doc_id"), RollingFingerprint.fps(col("text")).as("fps"))
        .select(col("doc_id"),
          size(array_distinct(fps)).cast("long").as("n_fp"),
          array_min(fps).as("min_fp"),
          array_max(fps).as("max_fp"))
        .orderBy("doc_id")
    }),

    // F6: lexicon sentiment, relational form — Σ valence over all token
    // occurrences, VADER-normalized s/sqrt(s²+15).
    "f6_sentiment_lexicon" -> ((s, d) => {
      val lex = s.createDataFrame(lexicon).toDF("word", "valence")
      val tokens = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("word"))
      tokens.join(broadcast(lex), Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(coalesce(col("valence"), lit(0.0))).as("sv"),
             count(col("valence")).as("n_hits"))
        .select(col("doc_id"),
          r6(col("sv") / sqrt(col("sv") * col("sv") + 15.0)).as("compound"),
          col("n_hits"))
        .orderBy("doc_id")
    }),

    // F7: full VADER rule engine (negation / boosters / ALL-CAPS /
    // "but" pivot / exclamation emphasis) — the reference's actual
    // scorer (scripts/03_add_sentiment.py:10,28). HASH-CHECKED since
    // round 13 via the materialized-intermediate pattern: the codegen
    // kernel emits the per-token adjusted valences (all sequential
    // rule state applied), the query dumps (doc_id, vals, bangs) to
    // parquet and recomputes the compound from the dump with a
    // left-to-right array fold — bit-identical to the scorer's own
    // accumulator — and the DuckDB twin replays the sum, the
    // exclamation emphasis, the α = 15 normalization and the clamp
    // from the same bytes. Rule semantics stay golden-tested in
    // VaderSpec, the codegen path in VaderCompoundSpec.
    "f7_vader_rules" -> ((s, d) => {
      val dumped = Dumps.writeOnce(s, F7VaderDump(d)) {
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.functions.VaderTokenScores.tokenScores(col("text"))
              .as("vals"),
            least(length(col("text")) -
              length(translate(col("text"), "!", "")),
              lit(graft.functions.Vader.BangCap))
              .cast("int").as("bangs"))
      }
      val sRaw = aggregate(col("vals"), lit(0.0), (acc, x) => acc + x)
      val sAdj = when(sRaw =!= 0.0,
        sRaw + signum(sRaw) * col("bangs").cast("double") *
          lit(graft.functions.Vader.BangIncr))
        .otherwise(sRaw)
      dumped
        .select(col("doc_id"),
          r6(greatest(lit(-1.0), least(lit(1.0),
            sAdj / sqrt(sAdj * sAdj +
              lit(graft.functions.Vader.Alpha))))).as("compound"))
        .orderBy("doc_id")
    }),

    // SQL17: the custom Catalyst expressions through the SQL
    // front-end — the point of registering them via
    // SparkSessionExtensions/injectFunction is that ANY session SQL
    // (notebooks, JDBC, views) can call them by name; this drives
    // vader_compound, rolling_fp, and pearson_pvalue as plain SQL
    // functions. Each column ≡ its Column-API twin (f7 / txt4 / a3),
    // asserted exactly in TextAnalysisSpec; rows-only vs DuckDB (no
    // equivalent functions there — the same reason the twins are).
    // The fingerprint array is projected to sortable scalars
    // (size + first element) so the driver's rows-only comparator —
    // which sorts/hashes column values — never sees a raw array cell;
    // txt6_rolling_fp keeps the full array form under its own spec.
    "sql17_native_fn" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("docs_v_sql17")
      s.sql("""
        SELECT doc_id,
               round(vader_compound(text), 6) AS compound,
               size(rolling_fp(text)) AS fp_n,
               -- try_element_at: a sub-window doc has NO fingerprints
               -- and a raw [0] subscript throws under ANSI
               -- (TextDegenerateSpec)
               try_element_at(rolling_fp(text), 1) AS fp_head,
               round(pearson_pvalue(CAST(0.3 AS DOUBLE),
                                    CAST(50 AS BIGINT)), 6) AS p_const
        FROM docs_v_sql17 ORDER BY doc_id""")
    }),

    // TXT8: vocabulary build — the top-1000 tokens by corpus frequency
    // with a deterministic rank (count desc, token asc), the first
    // step of training any tokenizer (and the stats table behind the
    // TXT5 BPE merges). Scale: the corpus-sized work is the (word)
    // hash agg with map-side partial aggregation — the classic
    // word count; the global row_number then runs over the VOCAB
    // (≪ corpus, bounded by distinct tokens), where one ordering
    // partition is the standard and correct plan.
    // TXT14: TF-IDF keyword extraction — the doc-tagging op on top of
    // the txt8/txt12 machinery: per doc the top-3 terms by tf·ln(N/df)
    // with a deterministic (score desc, term) tiebreak. One (doc, w)
    // hash agg for tf, one vocab agg for df, a keyed join on w (the
    // vocab CAN outgrow a broadcast at corpus scale — unlike txt12's
    // ≤|query| idf), then a per-doc ranking window. Exact-tf ties
    // share identical doubles on both engines; the ≤1-ulp libm ln is
    // absorbed by round6 on the emitted score and cannot flip an
    // order between distinct (tf, df) pairs at this granularity.
    "txt14_tfidf_keywords" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val rankW = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("w"))
      tf.join(df, Seq("w"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          col("tf") * log(col("n_docs").cast("double") / col("df")))
        .withColumn("rank", row_number().over(rankW).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("w").as("term"),
          col("tf"), round(col("score"), 6).as("score"))
        .orderBy("doc_id", "rank")
    }),

    "txt8_vocab" -> ((s, d) => {
      val w = Window.orderBy(col("n").desc, col("w"))
      Tables.documents(s, d)
        .select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 1000)
        .select(col("rank"), col("w").as("token"), col("n"))
        .orderBy("rank")
    }),

    // TXT9: TXT8's scale path — approximate heavy hitters via the
    // Space-Saving sketch UDAF (k = 64 slots). TXT8's exact count
    // shuffles the full (token, count) space; the sketch shuffles k
    // slots per map task, period — the constant-state summary a
    // 100 TB vocab scan runs first (exact counting then touches only
    // the survivors). On this corpus capacity ≥ vocabulary (31 < 64),
    // so the sketch provably never evicts: est is the exact count,
    // err = 0, and the whole query is oracle-checked; SpaceSavingSpec
    // drives the k < vocab approximating regime (bounds invariant,
    // heavy-item guarantee, merge-order robustness).
    "txt9_heavy_hitters" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(toks).as("w"))
        .agg(graft.functions.SpaceSaving.heavyHitters(col("w")).as("hh"))
        .select(explode(col("hh.items")).as("it"))
        .select(col("it.token").as("token"), col("it.est").as("est"),
          col("it.err").as("err"))
        .orderBy(col("est").desc, col("token"))
        .limit(20)),

    // TXT10: PII redaction — the scrub pass every training corpus
    // runs before anything else: find-and-mask emails and phone-shaped
    // strings, with per-doc match counts as the audit trail. The test
    // corpus has no PII, so every 13th doc gets a deterministic
    // contact string PLANTED first (the MM5c planted-fixture pattern —
    // pure string ops both engines replay identically), making
    // the detection, the counts, and the rewritten text all fully
    // oracle-checkable. Patterns stay in the Java∩RE2 common dialect
    // (char classes, \b, {m,}) so Spark and DuckDB agree; Spark's
    // regexp_replace is global by default, DuckDB takes the 'g' flag.
    // Scale: stateless per-row projection — no shuffle at all except
    // the presentation sort; the regex runs inside codegen.
    "txt10_pii_redact" -> ((s, d) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b555-\\d{4}\\b"
      Tables.documents(s, d)
        .withColumn("t", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" contact u"),
            col("doc_id").cast("string"), lit("@example.com call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(email), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("t"), lit(phone), lit(0)))
            .cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"),
            phone, "<PHONE>").as("redacted"))
        .filter(col("n_emails") > 0 || col("n_phones") > 0)
        .orderBy("doc_id")
    }),

    // TXT11: unigram LM scoring — the language-model quality signal
    // (avg per-token log-likelihood under the corpus's own unigram
    // model): fluent docs score near the corpus mean, repetitive or
    // vocabulary-skewed docs fall off. Two-pass: the vocab model
    // (token → ln(count/N)) is vocab-sized and BROADCASTS; docs join
    // it on token with one hash agg — the corpus never shuffles
    // whole. Float discipline: the per-doc sum runs over the SORTED
    // per-doc vocab slice (array_sort + ordered fold), so summation
    // order is pinned on both engines and the only engine divergence
    // left is the ≤1-ulp libm ln(), absorbed by round6.
    "txt11_unigram_loglik" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("w"))
      // At-scale shape behind ScaleGuard (round 15, VERDICT item 6):
      // persist the finest (doc, w) count frame once and derive the
      // model as its EXACT rollup (Σ per-doc counts ≡ vocab counts —
      // same integers), so the corpus tokenize+explode runs once, not
      // twice. Below the threshold the lazy two-pass shape stays: the
      // round-14 isolated A/B measured the persist SLOWER at sf0.1
      // (txt11 1.19/1.28 → 1.56/1.92 — block-store materialization of
      // a ~0.5M-row frame costs more than re-running a cheap explode).
      val atScale = graft.ScaleGuard.atScale(s, d, "documents")
      val pdLazy = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
      val pd = if (atScale)
        pdLazy.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else pdLazy
      val vocab = if (atScale)
        pd.groupBy("w").agg(sum(col("n")).as("cnt"))
      else tok.groupBy("w").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum(col("cnt")).as("tot"))
      val model = vocab.crossJoin(broadcast(total))
        .select(col("w"),
          log(col("cnt").cast("double") / col("tot").cast("double"))
            .as("logp"))
      pd
        .join(broadcast(model), Seq("w"))
        .groupBy("doc_id")
        .agg(sum(col("n")).as("n_tokens"),
          aggregate(
            array_sort(collect_list(struct(col("w"),
              (col("n").cast("double") * col("logp")).as("t")))),
            lit(0.0d), (acc, x) => acc + x.getField("t")).as("ll"))
        .select(col("doc_id"), col("n_tokens"),
          r6(col("ll")).as("log_lik"),
          r6(col("ll") / col("n_tokens")).as("avg_log_lik"))
        .orderBy("doc_id")
    }),

    // TXT27: domain-fit cross-entropy — the mixture-diagnosis signal
    // between TXT11's single-model fluency score and PIPE5's
    // diversity rollup: per doc, the average cross-entropy of its
    // tokens under its OWN source's unigram model vs under the
    // global corpus model. fit_gap = ce_global − ce_own is the
    // domain-specificity of the doc (strongly positive = the doc
    // speaks its source's dialect — generic docs score ≈ 0), the
    // standard cheap proxy for "does this source contribute a
    // distinct distribution to the mixture" (Moore–Lewis selection
    // uses exactly this difference, source↔target reversed). MLE
    // needs no smoothing on either side (doc ⊂ source ⊂ corpus, so
    // every scored token exists in both models). TXT11's float
    // discipline verbatim: raw ln terms folded in token order over
    // the collected per-doc frame (mirrored by list_sum ORDER BY),
    // r6 renders at the end, the gap one subtraction of the renders.
    // Scale: the source model joins on (source, w) — a keyed shuffle,
    // never a broadcast (Σ per-source vocabs outgrows the driver);
    // the global model broadcasts like TXT11. Fully hash-checked.
    "txt27_domain_fit" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), explode(toks).as("w"))
      // ScaleGuard rollup (round 15, VERDICT item 6): at scale, the
      // finest (doc, source, w) frame persists once and BOTH models
      // (source and global) derive as its exact rollups — one corpus
      // tokenize instead of four. Round 14 measured the persist
      // slower at sf0.1 (txt27 1.63/1.87 → 2.33/2.48 isolated).
      val atScale = graft.ScaleGuard.atScale(s, d, "documents")
      val pdLazy = tok.groupBy("doc_id", "source", "w")
        .agg(count(lit(1)).as("n"))
      val pd = if (atScale)
        pdLazy.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else pdLazy
      val srcTot = if (atScale)
        pd.groupBy("source").agg(sum(col("n")).as("stot"))
      else tok.groupBy("source").agg(count(lit(1)).as("stot"))
      val srcModel = (if (atScale)
        pd.groupBy("source", "w").agg(sum(col("n")).as("scnt"))
      else tok.groupBy("source", "w").agg(count(lit(1)).as("scnt")))
        .join(broadcast(srcTot), Seq("source"))
        .select(col("source"), col("w"),
          log(col("scnt").cast("double") / col("stot").cast("double"))
            .as("logp_s"))
      val vocab = if (atScale)
        pd.groupBy("w").agg(sum(col("n")).as("cnt"))
      else tok.groupBy("w").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum(col("cnt")).as("tot"))
      val glModel = vocab.crossJoin(broadcast(total))
        .select(col("w"),
          log(col("cnt").cast("double") / col("tot").cast("double"))
            .as("logp_g"))
      pd
        .join(srcModel, Seq("source", "w"))
        .join(broadcast(glModel), Seq("w"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("n")).as("n_tokens"),
          aggregate(
            array_sort(collect_list(struct(col("w"),
              (col("n").cast("double") * col("logp_s")).as("ts"),
              (col("n").cast("double") * col("logp_g")).as("tg")))),
            lit(0.0d), (acc, x) => acc + x.getField("ts")).as("lls"),
          aggregate(
            array_sort(collect_list(struct(col("w"),
              (col("n").cast("double") * col("logp_s")).as("ts"),
              (col("n").cast("double") * col("logp_g")).as("tg")))),
            lit(0.0d), (acc, x) => acc + x.getField("tg")).as("llg"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          r6(-col("lls") / col("n_tokens")).as("ce_own"),
          r6(-col("llg") / col("n_tokens")).as("ce_global"))
        .withColumn("fit_gap", col("ce_global") - col("ce_own"))
        .orderBy("doc_id")
    }),

    // TXT12: BM25 ranked retrieval — the relevance score behind
    // domain-targeted corpus selection (keep documents that score high
    // against a topic query). Okapi BM25 (Robertson & Spärck Jones;
    // public formula, k1 = 1.2, b = 0.75) over the corpus tokenizer:
    // score(d) = Σ_w idf(w) · n·(k1+1) / (n + k1·(1−b+b·dl/avgdl)).
    // Scale: one corpus pass builds per-doc lengths (hash agg,
    // map-side partial); the query-term postings are filtered BEFORE
    // any join (the inverted-index access path — candidates are docs
    // containing a query term, ≪ corpus); idf + avgdl are a ≤|q|-row
    // TXT17: bigram LM log-likelihood — the second-order upgrade of
    // TXT11's unigram score (the KenLM-style fluency filter in
    // miniature): p(w₂|w₁) = c(w₁w₂)/c(w₁·), both counts from ONE
    // bigram pass over the corpus tokenizer (c(w₁·) = the bigram-
    // context marginal, so the conditional normalizes exactly); every
    // doc bigram exists in the model by construction (scored corpus =
    // training corpus), so MLE needs no smoothing. Per-doc sums fold
    // in sorted bigram order (TXT11's float discipline). Scale shape:
    // two hash aggs + one broadcast of the model — the model is
    // vocabulary-sized, not corpus-sized. Fully oracle-checked.
    "txt17_bigram_loglik" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("t")) - 2),
          i => concat_ws(" ",
            element_at(col("t"), i + 1),
            element_at(col("t"), i + 2)))).as("bg"))
      // same ScaleGuard rollup identity as txt11 (Σ per-doc bigram
      // counts ≡ corpus bigram counts); round 14 measured the persist
      // slower at sf0.1 (txt17 1.65/1.86 → 2.03/2.29 isolated)
      val atScale = graft.ScaleGuard.atScale(s, d, "documents")
      val pdLazy = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
      val pd = if (atScale)
        pdLazy.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else pdLazy
      val counts = (if (atScale)
        pd.groupBy("bg").agg(sum(col("n")).as("cnt"))
      else bg.groupBy("bg").agg(count(lit(1)).as("cnt")))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
      val ctx = counts.groupBy("w1").agg(sum(col("cnt")).as("ctx"))
      val model = counts.join(ctx, Seq("w1"))
        .select(col("bg"),
          log(col("cnt").cast("double") / col("ctx").cast("double"))
            .as("logp"))
      pd
        .join(broadcast(model), Seq("bg"))
        .groupBy("doc_id")
        .agg(sum(col("n")).as("n_bigrams"),
          aggregate(
            array_sort(collect_list(struct(col("bg"),
              (col("n").cast("double") * col("logp")).as("t")))),
            lit(0.0d), (acc, x) => acc + x.getField("t")).as("ll"))
        .select(col("doc_id"), col("n_bigrams"),
          r6(col("ll")).as("log_lik"),
          r6(col("ll") / col("n_bigrams")).as("avg_log_lik"))
        .orderBy("doc_id")
    }),

    // TXT18: classifier evaluation block — the scorecard every
    // labeling/routing heuristic needs before it gates a corpus:
    // TXT3's language-ID predictions against the stored gold label,
    // as the full confusion-matrix metric set. Per class (full-outer
    // spine of actual ∪ predicted — fr/zh exist in gold but are
    // never predicted, so the spine is NOT the diagonal's):
    // precision, recall, F1; on every row the global accuracy and
    // Cohen's κ = (pₒ − pₑ)/(1 − pₑ) with chance agreement
    // pₑ = Σ_c rowTot_c·colTot_c / N². All counts are exact integers
    // (Σ rowTot·colTot < 2⁵³ far past 100 TB), every derived metric
    // is a fixed-order division chain over identical doubles → RAW
    // doubles hash-match (the W24 discipline). Scale: the corpus
    // pass is TXT3's map work + one (actual, pred) hash agg; all
    // metric arithmetic runs on the ≤|classes|² confusion frame.
    "txt18_langid_eval" -> ((s, d) => {
      val conf = queries("txt3_langid")(s, d)
        .groupBy(col("lang_actual"), col("lang_pred"))
        .agg(count(lit(1)).as("c"))
      val act = conf.groupBy(col("lang_actual").as("lang"))
        .agg(sum(col("c")).as("n_actual"))
      val prd = conf.groupBy(col("lang_pred").as("lang"))
        .agg(sum(col("c")).as("n_pred"))
      val tp = conf.filter(col("lang_actual") === col("lang_pred"))
        .select(col("lang_actual").as("lang"), col("c").as("tp"))
      val cls = act.join(prd, Seq("lang"), "full")
        .join(tp, Seq("lang"), "left")
        .na.fill(0L, Seq("n_actual", "n_pred", "tp"))
      val tot = cls.agg(sum(col("n_actual")).as("n"),
        sum(col("tp")).as("diag"),
        sum(col("n_actual") * col("n_pred")).as("pe_num"))
      cls.crossJoin(broadcast(tot))
        // a single-class confusion (every doc predicted AND labeled
        // one language) drives chance agreement pe to 1 -> kappa
        // undefined -> NULL (ANSI /0 guard; TextDegenerateSpec)
        .withColumn("accuracy",
          when(col("n") > 0, col("diag").cast("double") / col("n")))
        .withColumn("pe",
          when(col("n") > 0, col("pe_num").cast("double") /
            (col("n").cast("double") * col("n"))))
        .withColumn("kappa",
          when(col("pe") < 1.0d,
            (col("accuracy") - col("pe")) / (lit(1.0d) - col("pe"))))
        .withColumn("prec", when(col("n_pred") > 0,
          col("tp").cast("double") / col("n_pred")).otherwise(lit(0.0d)))
        .withColumn("rec", when(col("n_actual") > 0,
          col("tp").cast("double") / col("n_actual")).otherwise(lit(0.0d)))
        .withColumn("f1", when(col("prec") + col("rec") > 0,
          lit(2.0d) * col("prec") * col("rec") /
            (col("prec") + col("rec"))).otherwise(lit(0.0d)))
        .select(col("lang"), col("n_actual"), col("n_pred"), col("tp"),
          col("prec").as("precision"), col("rec").as("recall"),
          col("f1"), col("accuracy"), col("kappa"))
        .orderBy("lang")
    }),

    // TXT19: PMI collocations — the corpus-linguistics companion to
    // TXT17's Dunning log-likelihood (Church & Hanks 1990): which
    // adjacent word pairs co-occur far above chance?
    // pmi = ln(P(xy) / (P(x)·P(y))) with P(xy) over the bigram total
    // and P(x) over the token total, computed as ONE ratio of exact
    // integer products (c_xy·T_tok² / (T_bg·c_x·c_y), both < 2⁵³ at
    // any plausible corpus vocabulary) so the single ln() sees the
    // identical double on both engines; ln() itself is libm-version
    // 1-ulp territory → round6 (measured: one sf0.01 pair differed
    // in the 16th digit).
    // Min-count 5 kills the hapax-pair noise PMI is notorious for;
    // top-20 under a fully deterministic (pmi, w1, w2) order. Scale:
    // two map-side-combinable hash aggs (bigrams, unigrams) over one
    // corpus pass each; the vocabulary-sized count tables broadcast.
    "txt19_pmi_collocations" -> ((s, d) => {
      val tok = Tables.documents(s, d).select(toks.as("t"))
      val uni = tok.select(explode(col("t")).as("w"))
      val uc = uni.groupBy("w").agg(count(lit(1)).as("cw"))
      val tt = uni.agg(count(lit(1)).as("ttok"))
      val bg = tok.filter(size(col("t")) >= 2)
        .select(explode(transform(
          sequence(lit(0), size(col("t")) - 2),
          i => struct(element_at(col("t"), i + 1).as("w1"),
            element_at(col("t"), i + 2).as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val tb = bg.agg(count(lit(1)).as("tbg"))
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= 5)
        .join(broadcast(uc.select(col("w").as("w1"), col("cw").as("cx"))),
          Seq("w1"))
        .join(broadcast(uc.select(col("w").as("w2"), col("cw").as("cy"))),
          Seq("w2"))
        .crossJoin(broadcast(tt)).crossJoin(broadcast(tb))
        // round6 absorbs the 1-ulp libm ln() divergence (the txt12
        // discipline), and ORDERING by the rounded value keeps the
        // top-20 cut engine-stable too
        .withColumn("pmi", r6(log(
          (col("cxy") * col("ttok") * col("ttok")).cast("double") /
          (col("tbg") * col("cx") * col("cy")).cast("double"))))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
        .select(col("w1"), col("w2"), col("cxy"), col("cx"), col("cy"),
          col("pmi"))
    }),

    // TXT20: Jensen–Shannon source drift — the corpus-curation
    // question TXT14/TXT11 don't answer: how far does each SOURCE's
    // word distribution sit from the corpus (domain shift — the
    // signal mixture designers weight by, symmetric and bounded
    // [0, ln 2] where KL is neither)? JSD(Pₛ‖Q) over the complete
    // source × vocab spine (a word absent from a source still
    // contributes its ½·q·ln(q/m) mass — the spine makes that
    // row-presence-independent, A71's lesson), p-terms gated
    // arithmetically (p = 0 would put 0·ln 0 = NaN through the sum),
    // each term rounded at 1e-12 then decimal-summed (the A48/A71
    // fold discipline, 12 digits because JSD terms are O(q) ~ 1e-4
    // and a 6-digit grid would swallow them). Scale: one corpus
    // pass → (source, word) hash agg; the spine is sources × vocab
    // (vocab-bounded, never corpus-bounded); marginals broadcast.
    // Fully oracle-checked.
    "txt20_jsd_drift" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(toks).as("w"))
      val sw = tok.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
      val st = sw.groupBy("source").agg(sum(col("c_sw")).as("n_s"))
      val wc = sw.groupBy("w").agg(sum(col("c_sw")).as("c_w"))
      val nn = st.agg(sum(col("n_s")).as("n"))
      val spine = st.select(col("source"), col("n_s"))
        .crossJoin(broadcast(wc)).crossJoin(broadcast(nn))
      spine
        .join(sw, Seq("source", "w"), "left")
        .na.fill(0L, Seq("c_sw"))
        .withColumn("p", col("c_sw").cast("double") / col("n_s"))
        .withColumn("q", col("c_w").cast("double") / col("n"))
        .withColumn("m", (col("p") + col("q")) / 2)
        .withColumn("term",
          round(when(col("p") > 0,
            lit(0.5d) * col("p") * log(col("p") / col("m")))
            .otherwise(lit(0.0d)) +
            lit(0.5d) * col("q") * log(col("q") / col("m")), 12))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          round(sum(col("term").cast("decimal(24,14)")).cast("double"),
            6).as("jsd"))
        .orderBy("source")
    }),

    // TXT22: Heaps'-law vocabulary growth — the curve corpus
    // datasheets draw to answer "is more data still buying new
    // vocabulary?" (V(N) ≈ K·N^β, β ≈ 0.5 for natural text; a
    // template-generated corpus saturates early and its fitted β
    // collapses — a corpus-level diversity signal TXT21's per-doc
    // MATTR can't see). The distributed trick: the prefix-vocabulary
    // curve needs NO sequential scan — a word is in the prefix's
    // vocabulary iff its FIRST-occurrence doc_id is ≤ the checkpoint,
    // so ONE (word → min(doc_id), one hash agg) frame answers every
    // checkpoint at once; prefix token counts are a second
    // conditional agg over per-doc token counts. Checkpoints at fixed
    // percents of max doc_id (integer div — exact). The Heaps β fits
    // by OLS on (ln N, ln V) over the 7 checkpoints: ln() terms snap
    // to TXT20's 1e-12 grid (cross-engine libm ulps), the regression
    // then runs in exact-input IEEE, β/K reported r6. Fully
    // oracle-checked.
    // TXT23: Yule's characteristic K + Simpson's lexical concentration
    // — the repeat-rate constants corpus datasheets report beside
    // TXT13's entropy and TXT21's MATTR (Yule 1944): K =
    // 10⁴·(Σm²·V(m) − N)/N² and D = Σm(m−1)/(N(N−1)) over the
    // frequency SPECTRUM V(m) (how many types occur m times). Both
    // fold to INTEGER totals (Σm²V(m) = Σ over types of count², a
    // single hash agg over the token counts — the spectrum never
    // materializes for the constants) with ONE fixed division each;
    // hapax/dis-legomena counts V(1)/V(2) ride along as the tail
    // diagnostics. Scale: explode → two chained hash aggs (token,
    // then 1-row) — map-side-combinable end to end.
    "txt23_yules_k" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("m"))
        .agg(sum(col("m")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("m") * col("m")).as("m2"),
          sum(when(col("m") === 1, 1L).otherwise(0L)).as("v1"),
          sum(when(col("m") === 2, 1L).otherwise(0L)).as("v2"))
        .select(col("n_tokens"), col("n_types"), col("v1"), col("v2"),
          (lit(10000.0d) * (col("m2") - col("n_tokens")).cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double"))
            .as("yules_k"),
          ((col("m2") - col("n_tokens")).cast("double") /
            (col("n_tokens") * (col("n_tokens") - 1)).cast("double"))
            .as("simpson_d"))
    }),

    // TXT24: Good–Turing frequency spectrum — the smoothed count
    // table every n-gram language model starts from (Good 1953):
    // for each observed frequency r, N_r types and the adjusted
    // r* = (r+1)·N_{r+1}/N_r, with p_gt = r*/N the smoothed
    // per-type probability. Rows where N_{r+1} is empty drop (the
    // unsmoothable spectrum tail, the published convention); the
    // spectrum joins ITSELF on r+1 — a ≤|distinct r| frame, tiny at
    // any corpus size (the spectrum, not the vocab, is the join
    // input). Integer products, two fixed divisions.
    "txt24_good_turing" -> ((s, d) => {
      val spectrum = Tables.documents(s, d)
        .select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("r"))
        .groupBy("r").agg(count(lit(1)).as("n_r"))
      val tot = spectrum.agg(sum(col("r") * col("n_r")).as("nn"))
      val nxt = spectrum.select((col("r") - 1).as("r"),
        col("n_r").as("n_r1"))
      spectrum.join(nxt, Seq("r"))
        .crossJoin(broadcast(tot))
        .withColumn("r_star",
          ((col("r") + 1) * col("n_r1")).cast("double") /
            col("n_r").cast("double"))
        .select(col("r"), col("n_r"), col("n_r1"), col("r_star"),
          (col("r_star") / col("nn").cast("double")).as("p_gt"))
        .orderBy("r")
    }),

    // TXT25: token dispersion (Fano factor) — the burstiness screen
    // separating TOPICAL tokens (bursty: all their mass in few docs,
    // Fano ≫ 1) from function words and template boilerplate (evenly
    // TXT26: n-gram novelty — the memorization-risk lens mixture
    // designers read BEFORE upsampling a source: what fraction of a
    // doc's distinct 3-grams appears NOWHERE else in the corpus?
    // Novelty ≈ 1 = unique content worth keeping; ≈ 0 = the doc is
    // assembled from corpus boilerplate (D2/D18 find its twins, this
    // scores the doc without needing a pair). One corpus-wide
    // shingle df hash agg (the D2/D18 spine), one keyed join back,
    // integer counts and ONE division — bit-identical, nothing to
    // pin. Docs under 3 tokens have no 3-grams and drop (the D2
    // gate, documented).
    "txt26_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 3)
      // materialize the shingle explode once (round 14, guide §2.4):
      // both the df aggregate and the join side consume it, and
      // column pruning makes the two subtrees non-identical, so
      // exchange reuse never fires — un-truncated, the corpus
      // tokenize+explode ran twice per execution
      val sh = docs.select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("t")) - 3),
          i => concat_ws(" ",
            element_at(col("t"), i + 1),
            element_at(col("t"), i + 2),
            element_at(col("t"), i + 3))))).as("sh"))
        .localCheckpoint()
      val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      sh.join(df, Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_shingles"), col("n_unique"),
          (col("n_unique").cast("double") /
            col("n_shingles").cast("double")).as("novelty"))
        .orderBy("doc_id")
    }),

    // dispersed, Fano ≈ 1, the Poisson floor), per Church & Gale
    // 1995: Fano = Var/Mean of the per-document occurrence count
    // INCLUDING zero docs, which collapses to the all-integer form
    // (D·Σc² − T²)/(D·T) — one division, nothing to pin. Top-20
    // corpus tokens by (count desc, token) over the vocab-sized rank
    // spine (the TXT8 shape). One token hash agg + one (token, doc)
    // agg feeding it.
    "txt25_dispersion" -> ((s, d) => {
      val dtot = Tables.documents(s, d).agg(count(lit(1)).as("dd"))
      val perDoc = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("w"))
        .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
      val byTok = perDoc.groupBy("w")
        .agg(sum(col("c")).as("total"), count(lit(1)).as("df"),
          sum(col("c") * col("c")).as("c2"))
      val w20 = Window.orderBy(col("total").desc, col("w"))
      byTok.crossJoin(broadcast(dtot))
        .withColumn("rank", row_number().over(w20).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("w").as("token"), col("total"),
          col("df"),
          ((col("dd") * col("c2") - col("total") * col("total"))
            .cast("double") /
            (col("dd") * col("total")).cast("double")).as("fano"))
        .orderBy("rank")
    }),

    "txt22_heaps_growth" -> ((s, d) => {
      val pcts = Seq(1, 2, 5, 10, 20, 50, 100)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"))
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val firsts = docs.select(explode(col("t")).as("w"), col("doc_id"))
        .groupBy("w").agg(min(col("doc_id")).as("first_doc"))
      val dtok = docs.select(col("doc_id"),
        size(col("t")).cast("long").as("n_tok"))
      val cps = mx.select(explode(array(pcts.map(lit): _*)).as("pct"),
        col("mx")).withColumn("cp", expr("mx * pct div 100"))
        .select(col("pct"), col("cp"))
      val vocab = firsts.crossJoin(broadcast(cps))
        .groupBy(col("pct"), col("cp"))
        .agg(count(when(col("first_doc") <= col("cp"), 1)).as("vocab"))
      val ntok = dtok.crossJoin(broadcast(cps))
        .groupBy(col("pct"))
        .agg(sum(when(col("doc_id") <= col("cp"), col("n_tok"))
          .otherwise(lit(0L))).as("n_tokens"))
      val pts = vocab.join(ntok, Seq("pct"))
        .withColumn("x", round(log(col("n_tokens").cast("double")), 12))
        .withColumn("y", round(log(col("vocab").cast("double")), 12))
      val wAll = Window.partitionBy()
      pts
        .withColumn("m", count(lit(1)).over(wAll).cast("double"))
        .withColumn("sx", sum(col("x").cast("decimal(24,14)")).over(wAll)
          .cast("double"))
        .withColumn("sy", sum(col("y").cast("decimal(24,14)")).over(wAll)
          .cast("double"))
        .withColumn("sxx", sum((col("x") * col("x"))
          .cast("decimal(24,12)")).over(wAll).cast("double"))
        .withColumn("sxy", sum((col("x") * col("y"))
          .cast("decimal(24,12)")).over(wAll).cast("double"))
        .withColumn("beta",
          (col("m") * col("sxy") - col("sx") * col("sy")) /
            (col("m") * col("sxx") - col("sx") * col("sx")))
        .select(col("pct"), col("cp").as("n_docs"), col("n_tokens"),
          col("vocab"),
          (r6(col("beta")) + 0.0).as("heaps_beta"), // + 0.0: no -0.0
          r6(exp((col("sy") - col("beta") * col("sx")) / col("m")))
            .as("heaps_k"))
        .orderBy("pct")
    }),

    // TXT21: lexical diversity (TTR + MATTR) — the vocabulary-richness
    // curation signal (Covington & McFall 2010): raw type-token ratio
    // collapses as docs grow (hapax exhaustion), so the robust form
    // averages TTR over fixed 50-token segments — MATTR, the
    // length-invariant diversity score corpus datasheets report next
    // to TXT13's entropy (entropy weighs the histogram; this counts
    // TYPES, catching template text that cycles a small vocabulary
    // evenly — high entropy, low diversity). Entirely in-row: segment
    // slices + distinct counts fold inside one projection over the
    // shared tokenizer — NO explode, NO shuffle, the cheapest corpus
    // pass in the txt family (MM8's in-row doctrine). The mean of
    // per-segment TTRs with a common denominator is Σdistinctᵢ/(50·k)
    // — one exact integer sum, ONE division → raw doubles, and docs
    // shorter than one full segment are excluded (their MATTR is
    // undefined, the published convention). Fully oracle-checked.
    "txt21_lexical_diversity" -> ((s, d) => {
      val Seg = 50
      Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= Seg)
        .withColumn("n_tokens", size(col("t")).cast("long"))
        .withColumn("n_segments", expr(s"n_tokens div $Seg"))
        .withColumn("dc", transform(
          sequence(lit(0L), col("n_segments") - 1),
          i => size(array_distinct(
            slice(col("t"), (i * Seg + 1).cast("int"), lit(Seg))))))
        .select(col("doc_id"), col("n_tokens"), col("n_segments"),
          (size(array_distinct(col("t"))).cast("double") / col("n_tokens"))
            .as("ttr"),
          (aggregate(col("dc"), lit(0L), (acc, x) => acc + x)
            .cast("double") / (col("n_segments") * Seg)).as("mattr"))
        .orderBy("doc_id")
    }),

    // broadcast. Float discipline: per-doc term sum folds in sorted
    // term order (TXT11's pattern), ln() divergence absorbed by round6.
    "txt12_bm25" -> ((s, d) => {
      val terms = Seq("spark", "stream", "dup")
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("w"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl").cast("double")).as("avgdl"))
      val post = tok.filter(col("w").isin(terms: _*))
      val idf = post.groupBy("w")
        .agg(countDistinct(col("doc_id")).as("df"))
        .crossJoin(broadcast(stats))
        .select(col("w"),
          log((col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)).as("idf"),
          col("avgdl"))
      post.groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
        .join(dl, Seq("doc_id"))
        .join(broadcast(idf), Seq("w"))
        .withColumn("t", col("idf") * (col("n") * lit(2.2)) /
          (col("n") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl").cast("double") / col("avgdl"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          aggregate(array_sort(collect_list(struct(col("w"), col("t")))),
            lit(0.0d), (acc, x) => acc + x.getField("t")).as("score"))
        .select(col("doc_id"), col("n_terms"), r6(col("score")).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(50)
    }),

    // TXT13: per-document token entropy — Shannon H = −Σ p·ln p over
    // the doc's own token histogram (p = n/len): the diversity signal
    // complementary to TXT7's surface repetition ratios (a doc looping
    // one phrase scores low however long it is; TXT11 scores against
    // the CORPUS model, this scores against the doc itself). Scale:
    // one (doc, token) hash agg, map-side combinable, zero joins —
    // totals and the ordered histogram come out of the same per-doc
    // agg; the fold runs in sorted token order (TXT11's discipline).
    "txt13_entropy" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(sum(col("n")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          array_sort(collect_list(struct(col("w"), col("n")))).as("hist"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          r6(aggregate(col("hist"), lit(0.0d), (acc, x) => {
            val p = x.getField("n").cast("double") / col("n_tokens")
            acc - p * log(p)
          })).as("entropy"))
        .orderBy("doc_id")),

    // TXT15: Zipf's-law fit — OLS of ln(freq) on ln(rank) over the
    // top-100 vocabulary: the one-number distributional health check
    // for a corpus (natural text slopes ≈ −1; boilerplate-flooded or
    // templated corpora flatten/steepen it) that sits beside TXT8's
    // raw ranks and TXT13's per-doc entropy. Float discipline: the
    // ln() values are ≤1-ulp libm; the five OLS sums go through
    // DECIMAL(30,12) so accumulation order can't move them, and
    // round6 absorbs the final division chain (the W18 playbook).
    // Scale: the rank window runs over the top of an aggregated
    // vocab, not the corpus; everything before it is one map-side-
    // combinable hash agg.
    // TXT16: Flesch reading-ease — the readability quality signal
    // web-corpus filters cut on (too-hard and too-trivial text both
    // correlate with junk): 206.835 − 1.015·(words/sentences) −
    // 84.6·(syllables/words). Sentences = terminal-punctuation runs
    // (floored at 1); syllables ≈ maximal vowel runs (the standard
    // heuristic — runs cannot span whitespace, so no per-word explode
    // is needed: ONE regexp_count over the doc). Stateless codegen
    // projections, zero shuffle; every ratio is elementwise IEEE →
    // raw doubles hash-match, no rounding grid. Fully oracle-checked.
    "txt16_readability" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long").as("n_sentences"),
          regexp_count(lower(col("text")), lit("[aeiouy]+"))
            .cast("long").as("n_syllables"))
        .filter(col("n_words") > 0)
        .withColumn("flesch",
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences")) -
            lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words")))
        .orderBy("doc_id")),

    "txt15_zipf" -> ((s, d) => {
      val w = Window.orderBy(col("n").desc, col("w"))
      val ranked = Tables.documents(s, d)
        .select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 100)
      def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
      val x = log(col("rank").cast("double"))
      val y = log(col("n").cast("double"))
      ranked
        .agg(count(lit(1)).as("k"), dsum(x).as("sx"), dsum(y).as("sy"),
          dsum(x * x).as("sxx"), dsum(x * y).as("sxy"),
          dsum(y * y).as("syy"))
        .withColumn("slope",
          (col("k") * col("sxy") - col("sx") * col("sy")) /
            (col("k") * col("sxx") - col("sx") * col("sx")))
        .select(col("k"), r6(col("slope")).as("slope"),
          r6((col("sy") - col("slope") * col("sx")) / col("k"))
            .as("intercept"),
          r6((col("k") * col("sxy") - col("sx") * col("sy")) *
             (col("k") * col("sxy") - col("sx") * col("sy")) /
             ((col("k") * col("sxx") - col("sx") * col("sx")) *
              (col("k") * col("syy") - col("sy") * col("sy"))))
            .as("r2"))
    }),

    // D1: exact dedup — md5 content hash, keep lowest doc_id per hash.
    "d1_exact_dedup" -> ((s, d) => {
      val hashed = Tables.documents(s, d)
        .select(col("doc_id"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
      val w = Window.partitionBy("h").orderBy("doc_id")
      hashed
        .withColumn("rn", row_number().over(w))
        .withColumn("group_size", count(lit(1))
          .over(Window.partitionBy("h")))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("h"), col("group_size"))
        .orderBy("doc_id")
    }),

    // D2: n-gram Jaccard near-dup pairs via inverted-index shingle join
    // (bounded to doc_id < 100 so the oracle's pair space is fixed).
    "d2_ngram_jaccard" -> ((s, d) =>
      ngramJaccardPairs(s, d, maxId = 100, minJ = 0.01)
        .select(col("da"), col("db"), r6(col("jaccard")).as("jaccard"))
        .orderBy("da", "db")),

    // D15: shingle CONTAINMENT — the asymmetric overlap Jaccard is
    // blind to: a short doc fully quoted inside a long one scores
    // C(a→b) = |A∩B|/|A| ≈ 1 while J = |A∩B|/|A∪B| stays small (the
    // news-syndication case — excerpts, wrapped reprints). Same
    // shingle-equi-join access path as D2 (pairs sharing ≥1 shingle;
    // never all-pairs), reporting BOTH directions so the caller sees
    // which side is the fragment. Exact long/long divisions → fully
    // oracle-checked.
    "d15_containment" -> ((s, d) =>
      ngramJaccardPairs(s, d, maxId = 500, minJ = 0.0)
        .select(col("da"), col("db"),
          r6(col("i").cast("double") / col("sza")).as("cont_a_in_b"),
          r6(col("i").cast("double") / col("szb")).as("cont_b_in_a"))
        .filter(col("cont_a_in_b") >= 0.5 || col("cont_b_in_a") >= 0.5)
        .orderBy("da", "db")),

    // D17: cross-doc repeated-SPAN statistics — substring-level dedup
    // (Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better"): whole-doc dedup (D1) and doc-pair near-dup
    // (D2/D3) both miss the boilerplate CASE — a license header or
    // navigation block repeated across thousands of otherwise-distinct
    // pages. The published remedy fingerprints fixed-width token
    // windows and measures, per doc, the fraction of its windows that
    // recur in OTHER docs — the removal/trim signal. Window width 8
    // tokens here (the paper uses 50; testdata docs run 10–99 tokens,
    // so 8 keeps every doc ≥ the width while preserving the
    // rare-by-chance property a span match needs).
    //
    // Shape at 100 TB: explode to (doc, span) occurrences, hash-agg to
    // (doc, span, count) — map-side combinable, the corpus pass —
    // derive each span's distinct-doc count from THAT aggregate (one
    // more hash agg over already-collapsed rows, never the raw
    // occurrences), join back keyed on the span, and fold per doc.
    // Two shuffles on the span key + one on doc_id; no all-pairs
    // anywhere, and no second corpus scan. Exact integer counts →
    // fully oracle-checked (DuckDB replays the identical windows).
    "d17_repeated_spans" -> ((s, d) => {
      val W = 8
      val occ = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= W)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("t")) - W),
            i => concat_ws(" ",
              (1 to W).map(k => element_at(col("t"), i + k)): _*))).as("sp"))
        // ONE exchange on the span key serves everything downstream
        // (round 15, guide §2.4): HashPartitioning(sp) satisfies the
        // (doc_id, sp) grouping (subset rule), the docsPerSpan rollup
        // groups on sp, and the join keys on sp — so the agg, the
        // rollup and both join sides all reuse this partitioning and
        // the plan drops from 4 exchanges to 2 (this one + the final
        // per-doc fold).
        .repartition(col("sp"))
        .groupBy("doc_id", "sp").agg(count(lit(1)).as("c"))
        // materialized once (round 14, guide §2.4): the span-doc-count
        // agg and the join side both consume occ, and the pruned
        // subtrees differ, so without truncation the window explode +
        // hash agg ran twice per execution
        .localCheckpoint()
      // occ is one row per (doc, span): counting rows per span IS the
      // distinct-doc count, with no second pass over raw occurrences
      val docsPerSpan = occ.groupBy("sp").agg(count(lit(1)).as("nd"))
      occ.join(docsPerSpan, Seq("sp"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_spans"),
          sum(when(col("nd") >= 2, col("c")).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_spans"), col("n_dup"),
          r6(col("n_dup").cast("double") / col("n_spans")).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // D19: content-defined chunking + cross-doc chunk dedup — the
    // storage/dataset layer's shift-resistant granularity (LBFS
    // lineage; what DS3's fixed blocks lack: one insertion re-slices
    // everything downstream of a fixed boundary, but CDC boundaries
    // are decided by local content, so only ONE chunk changes): per
    // doc, chunks from the native CdcChunks codegen kernel (Rabin
    // K=8 gram hash ≡ 0 mod 64 → expected ~64-char chunks; pure
    // integer arithmetic), then the D17-shaped corpus question —
    // which chunks recur across ≥2 docs (the dedupable fraction a
    // content-addressed store would collapse). One (doc, chash) hash
    // agg + one chash-keyed doc-count agg; never all-pairs; the
    // kernel is one O(len·K) pass inside whole-stage codegen. Fully
    // oracle-checked (DuckDB replays gram hashes, cut set and chunk
    // hashes with list primitives — txt6's replay pattern).
    "d19_cdc_chunks" -> ((s, d) => {
      // ASCII guard (octet_length == length, mirrored in the oracle —
      // the MM11 pattern): the kernel lowercases per UTF-16 char while
      // the oracle replay lowercases whole-string and reads ascii()
      // code points; non-ASCII input (Turkish dotted I, sharp s) would
      // silently diverge engine-vs-oracle, so both sides scope to the
      // bytes==chars slice where the two normalizations are provably
      // identical.
      val ch = Tables.documents(s, d)
        .filter(octet_length(encode(col("text"), "UTF-8")) ===
          length(col("text")))
        .select(col("doc_id"),
          explode(graft.functions.CdcChunks.chunks(col("text"))).as("c"))
        .select(col("doc_id"), col("c.len").cast("long").as("len"),
          col("c.chash").as("chash"))
      val occ = ch.groupBy("doc_id", "chash").agg(count(lit(1)).as("c"),
        sum(col("len")).as("lsum"), max(col("len")).as("lmax"))
      val docsPer = occ.groupBy("chash").agg(count(lit(1)).as("nd"))
      occ.join(docsPer, Seq("chash"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_chunks"),
          sum(col("lsum")).as("total_len"),
          max(col("lmax")).as("max_len"),
          sum(when(col("nd") >= 2, col("c")).otherwise(0L))
            .as("n_shared"))
        .select(col("doc_id"), col("n_chunks"),
          (col("total_len").cast("double") / col("n_chunks"))
            .as("avg_len"),
          col("max_len"), col("n_shared"),
          (col("n_shared").cast("double") / col("n_chunks"))
            .as("shared_frac"))
        .orderBy("doc_id")
    }),

    // D18: prefix-filtered EXACT similarity join (PPJoin candidate
    // generation — Xiao et al. 2008 Lemma 1; Bayardo et al. 2007):
    // all doc pairs with 3-gram shingle-set Jaccard ≥ 0.4 (D2's
    // granularity — word sets are non-discriminative on this
    // corpus's shared vocabulary: measured 30k pairs at J ≥ 0.8),
    // where the inverted index posts only each doc's PREFIX —
    // shingles ranked by global rarity (df asc, shingle asc — the
    // order that makes prefixes maximally selective), prefix length
    // n − ⌈0.4n⌉ + 1 in pure integer arithmetic (⌈2n/5⌉ =
    // (2n+4) div 5 — no float threshold, the DS15 lesson), so a
    // boilerplate shingle never posts while a rare one does.
    // Candidate pairs are pre-pruned by PPJoin's LENGTH filter
    // (J ≥ 2/5 forces 2·n_a ≤ 5·n_b and 2·n_b ≤ 5·n_a — a pair of
    // very different set sizes can never qualify), applied on the
    // posting join itself from sizes carried with the postings, so
    // the dominant verify cost (array_intersect over full shingle
    // sets) only ever runs on size-compatible candidates. Survivors
    // verify exactly via array_intersect; the qualifying test is the
    // cross-multiplied integer form 7·i ≥ 2·(n_a+n_b). THE ORACLE IS
    // THE EXHAUSTIVE JOIN — DuckDB posts every shingle — so the hash
    // match itself proves neither the prefix filter nor the length
    // filter drops a qualifying pair, every round, at every SF (plus
    // the DedupSpec brute-force sweep). Bounded to the doc_id < 1000
    // slice for oracle tractability (D2's pattern); the plan is the
    // 100 TB shape: keyed prefix-posting join, never all-pairs,
    // candidate volume ∝ rare-shingle postings. The shingle-df table
    // joins by KEY (w is already the posting key) rather than by
    // broadcast: on a real corpus the 3-gram vocabulary is billions
    // of rows — a broadcast of it kills the driver long before the
    // join runs (round-10 verdict), while the keyed join co-shuffles
    // with the posting explode it feeds.
    "d18_prefix_jaccard" -> ((s, d) =>
      prefixJaccardPairs(s, d, col("doc_id") < 1000))
  )

  /** D18's body with the doc slice as a parameter: the named query
    * pins `doc_id < 1000` (oracle tractability — the DuckDB twin is
    * the exhaustive join); ScaleProbe passes `doc_id % 1000000 <
    * 1000` so the 10× salted replica keeps every copy's slice and
    * the probe measures a genuinely 10×-distinct corpus (see
    * ScaleProbe's d18 replica note). */
  private[graft] def prefixJaccardPairs(s: SparkSession, d: String,
      slice: Column): DataFrame = {
      // materialize the tokenize→shingle-set table once (round 14,
      // guide §2.4/§5): FOUR subtrees consume `docs` (the posting
      // explode, the size join, and both verify sides) and two consume
      // `pref` (the self-join aliases) — un-truncated, each re-ran the
      // whole split/transform/array_distinct chain over the corpus
      // slice. The 100 TB analogue is persisting the shingle-set and
      // prefix-posting tables before the pair search (the D6
      // candidate-table pattern).
      val docs = Tables.documents(s, d).filter(slice)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), array_distinct(transform(
          sequence(lit(0), size(col("t")) - 3),
          i => concat_ws(" ",
            element_at(col("t"), i + 1),
            element_at(col("t"), i + 2),
            element_at(col("t"), i + 3)))).as("tset"))
        .localCheckpoint()
      val tok = docs.select(col("doc_id"), explode(col("tset")).as("w"))
      val freq = tok.groupBy("w").agg(count(lit(1)).as("df"))
      val pref = tok.join(freq, Seq("w"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("w"))))
        .join(docs.select(col("doc_id"), size(col("tset")).as("n")),
          Seq("doc_id"))
        .filter(col("pos") <= col("n") - expr("div(2 * n + 4, 5)") + 1)
        .select(col("doc_id"), col("w"), col("n"))
        .localCheckpoint()
      val cand = pref.as("a").join(pref.as("b"),
          col("a.w") === col("b.w") &&
            col("a.doc_id") < col("b.doc_id") &&
            lit(2) * col("a.n") <= lit(5) * col("b.n") &&
            lit(2) * col("b.n") <= lit(5) * col("a.n"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      cand
        .join(docs.select(col("doc_id").as("da"), col("tset").as("ta")),
          Seq("da"))
        .join(docs.select(col("doc_id").as("db"), col("tset").as("tb")),
          Seq("db"))
        .withColumn("i", size(array_intersect(col("ta"), col("tb")))
          .cast("long"))
        .withColumn("n_a", size(col("ta")).cast("long"))
        .withColumn("n_b", size(col("tb")).cast("long"))
        .filter(lit(7L) * col("i") >= lit(2L) * (col("n_a") + col("n_b")))
        .select(col("da"), col("db"), col("i").as("inter"), col("n_a"),
          col("n_b"),
          (col("i").cast("double") /
            (col("n_a") + col("n_b") - col("i"))).as("jaccard"))
        .orderBy("da", "db")
  }

  val oracles: Map[String, String] = Map(
    // full replay of the CDC kernel with list primitives: gram
    // hashes, the mod-64 cut set, per-chunk polynomial hashes (the
    // txt6 rolling-hash replay pattern, extended to chunking)
    "d19_cdc_chunks" ->
      """WITH d AS (
           SELECT doc_id, lower(trim(text)) AS t
           FROM documents WHERE length(trim(text)) > 0
             AND octet_length(encode(text)) = length(text)),
         g AS (
           SELECT doc_id, t, length(t) AS L,
                  CASE WHEN length(t) >= 8 THEN
                    list_transform(range(1, length(t) - 8 + 2),
                      p -> list_reduce(
                             list_prepend(CAST(0 AS BIGINT),
                               list_transform(range(0, 8),
                                 j -> CAST(ascii(substring(t, p + j, 1))
                                      AS BIGINT))),
                             (h, c) -> (h * 257 + c) % 1000000007))
                  ELSE CAST([] AS BIGINT[]) END AS hs
           FROM d),
         cuts AS (
           SELECT doc_id, t, L,
                  list_prepend(0, list_append(
                    list_sort(list_transform(
                      list_filter(range(1, len(hs) + 1),
                        p -> hs[p] % 64 = 0 AND p - 1 + 8 < L),
                      p -> p - 1 + 8)), L)) AS bounds
           FROM g),
         ch AS (
           SELECT doc_id,
                  u.c.s AS s, u.c.e AS e,
                  CAST(u.c.e - u.c.s AS BIGINT) AS len,
                  list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(u.c.s + 1, u.c.e + 1),
                        i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
                    (h, c) -> (h * 257 + c) % 1000000007) AS chash
           FROM (
             SELECT doc_id, t,
                    unnest(list_transform(range(1, len(bounds)),
                      i -> struct_pack(s := bounds[i],
                                       e := bounds[i+1]))) AS c
             FROM cuts) u),
         occ AS (
           SELECT doc_id, chash, count(*) AS c,
                  CAST(sum(len) AS BIGINT) AS lsum, max(len) AS lmax
           FROM ch GROUP BY 1, 2),
         dp AS (SELECT chash, count(*) AS nd FROM occ GROUP BY 1)
         SELECT occ.doc_id, CAST(sum(occ.c) AS BIGINT) AS n_chunks,
                CAST(CAST(sum(occ.lsum) AS BIGINT) AS DOUBLE) /
                  CAST(sum(occ.c) AS BIGINT) AS avg_len,
                max(occ.lmax) AS max_len,
                CAST(sum(CASE WHEN dp.nd >= 2 THEN occ.c ELSE 0 END)
                     AS BIGINT) AS n_shared,
                CAST(CAST(sum(CASE WHEN dp.nd >= 2 THEN occ.c ELSE 0
                     END) AS BIGINT) AS DOUBLE) /
                  CAST(sum(occ.c) AS BIGINT) AS shared_frac
         FROM occ JOIN dp ON occ.chash = dp.chash
         GROUP BY occ.doc_id ORDER BY occ.doc_id""",
    // EXHAUSTIVE inverted-index join (every token posts — no prefix):
    // hash-matching against the prefix-filtered Spark plan proves the
    // filter drops no qualifying pair
    "d18_prefix_jaccard" ->
      """WITH raw AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents WHERE doc_id < 1000),
         docs AS (
           SELECT doc_id,
                  list_distinct(list_transform(
                    generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                    AS tset
           FROM raw WHERE len(t) >= 3),
         d2 AS (SELECT doc_id, len(tset) AS n FROM docs),
         tok AS (SELECT doc_id, unnest(tset) AS w FROM docs),
         pairs AS (
           SELECT a.doc_id AS da, b.doc_id AS db,
                  CAST(count(*) AS BIGINT) AS i
           FROM tok a JOIN tok b
             ON a.w = b.w AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         j AS (
           SELECT da, db, i, x.n AS n_a, y.n AS n_b
           FROM pairs
           JOIN d2 x ON da = x.doc_id
           JOIN d2 y ON db = y.doc_id
           WHERE 7 * i >= 2 * (x.n + y.n))
         SELECT da, db, i AS inter, CAST(n_a AS BIGINT) AS n_a,
                CAST(n_b AS BIGINT) AS n_b,
                CAST(i AS DOUBLE) / (n_a + n_b - i) AS jaccard
         FROM j ORDER BY da, db""",
    // DECIMAL literals cast to DOUBLE (DuckDB fractional literals are
    // decimals; the linear combination must be double math both sides)
    "txt16_readability" ->
      """WITH m AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                       AS BIGINT) AS n_words,
                  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                       AS BIGINT) AS n_sentences,
                  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                       AS BIGINT) AS n_syllables
           FROM documents)
         SELECT doc_id, n_words, n_sentences, n_syllables,
                CAST(206.835 AS DOUBLE) -
                  CAST(1.015 AS DOUBLE) *
                    (CAST(n_words AS DOUBLE) / n_sentences) -
                  CAST(84.6 AS DOUBLE) *
                    (CAST(n_syllables AS DOUBLE) / n_words) AS flesch
         FROM m WHERE n_words > 0
         ORDER BY doc_id""",
    "txt15_zipf" ->
      """WITH wc AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         agg AS (SELECT w, count(*) AS n FROM wc GROUP BY 1),
         ranked AS (
           SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rank
           FROM agg QUALIFY rank <= 100),
         s AS (
           SELECT count(*) AS k,
                  CAST(CAST(sum(CAST(ln(CAST(rank AS DOUBLE))
                       AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS sx,
                  CAST(CAST(sum(CAST(ln(CAST(n AS DOUBLE))
                       AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(ln(CAST(rank AS DOUBLE)) *
                       ln(CAST(rank AS DOUBLE))
                       AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS sxx,
                  CAST(CAST(sum(CAST(ln(CAST(rank AS DOUBLE)) *
                       ln(CAST(n AS DOUBLE))
                       AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS sxy,
                  CAST(CAST(sum(CAST(ln(CAST(n AS DOUBLE)) *
                       ln(CAST(n AS DOUBLE))
                       AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS syy
           FROM ranked)
         SELECT k,
                round((k*sxy - sx*sy) / (k*sxx - sx*sx), 6) AS slope,
                round((sy - ((k*sxy - sx*sy) / (k*sxx - sx*sx)) * sx) / k,
                      6) AS intercept,
                round((k*sxy - sx*sy) * (k*sxy - sx*sy) /
                      ((k*sxx - sx*sx) * (k*syy - sy*sy)), 6) AS r2
         FROM s""",
    "txt13_entropy" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         wc AS (SELECT doc_id, w, count(*) AS n FROM tok GROUP BY 1, 2),
         tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
                        count(*) AS n_distinct FROM wc GROUP BY 1),
         terms AS (
           SELECT wc.doc_id, wc.w,
                  -(CAST(wc.n AS DOUBLE) / tot.n_tokens) *
                   ln(CAST(wc.n AS DOUBLE) / tot.n_tokens) AS t
           FROM wc JOIN tot USING (doc_id)),
         h AS (SELECT doc_id, list_sum(list(t ORDER BY w)) AS h
               FROM terms GROUP BY 1)
         SELECT tot.doc_id, tot.n_tokens, tot.n_distinct,
                round(h.h, 6) AS entropy
         FROM tot JOIN h USING (doc_id)
         ORDER BY doc_id""",
    "txt12_bm25" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                  avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
         post AS (SELECT * FROM tok WHERE w IN ('spark', 'stream', 'dup')),
         idf AS (
           SELECT w, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf,
                  avgdl
           FROM (SELECT w, count(DISTINCT doc_id) AS df
                 FROM post GROUP BY 1), stats),
         sc AS (
           SELECT q.doc_id, q.w,
                  i.idf * (q.n * 2.2) /
                  (q.n + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / i.avgdl))
                    AS t
           FROM (SELECT doc_id, w, count(*) AS n FROM post GROUP BY 1, 2) q
           JOIN dl l USING (doc_id) JOIN idf i USING (w)),
         agg AS (
           SELECT doc_id, count(*) AS n_terms,
                  list_sum(list(t ORDER BY w)) AS score
           FROM sc GROUP BY 1)
         SELECT doc_id, n_terms, round(score, 6) AS bm25
         FROM agg ORDER BY bm25 DESC, doc_id LIMIT 50""",
    "txt17_bigram_loglik" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         bg AS (
           SELECT doc_id, unnest(list_transform(
                    generate_series(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1])) AS bg
           FROM docs WHERE len(t) >= 2),
         counts AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY 1),
         ctx AS (
           SELECT string_split(bg, ' ')[1] AS w1, sum(cnt) AS ctx
           FROM counts GROUP BY 1),
         model AS (
           SELECT bg, ln(CAST(cnt AS DOUBLE) / CAST(ctx AS DOUBLE)) AS logp
           FROM counts JOIN ctx ON string_split(counts.bg, ' ')[1] = ctx.w1),
         db AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY 1, 2),
         j AS (
           SELECT d.doc_id, d.bg, CAST(d.n AS BIGINT) AS n,
                  CAST(d.n AS DOUBLE) * m.logp AS t
           FROM db d JOIN model m ON d.bg = m.bg),
         agg AS (
           SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
                  list_sum(list(t ORDER BY bg)) AS ll
           FROM j GROUP BY 1)
         SELECT doc_id, n_bigrams, round(ll, 6) AS log_lik,
                round(ll / n_bigrams, 6) AS avg_log_lik
         FROM agg ORDER BY doc_id""",
    // txt3's prediction CTE inlined, then pure integer confusion
    // arithmetic and fixed-order division chains (raw doubles)
    "txt18_langid_eval" ->
      """WITH t AS (
           SELECT doc_id, lang AS lang_actual,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         v AS (
           SELECT doc_id, lang_actual,
                  len(list_filter(toks, x -> x IN
                    ('the','and','of','to','is','a'))) AS en_votes,
                  len(list_filter(toks, x -> x IN
                    ('der','die','das','und','ist','ein'))) AS de_votes,
                  len(list_filter(toks, x -> x IN
                    ('el','la','los','de','es','un'))) AS es_votes
           FROM t),
         pred AS (
           SELECT lang_actual,
                  CASE WHEN en_votes >= de_votes AND en_votes >= es_votes
                         THEN 'en'
                       WHEN de_votes >= es_votes THEN 'de'
                       ELSE 'es' END AS lang_pred
           FROM v),
         conf AS (
           SELECT lang_actual, lang_pred, count(*) AS c
           FROM pred GROUP BY 1, 2),
         act AS (SELECT lang_actual AS lang, CAST(sum(c) AS BIGINT)
                        AS n_actual FROM conf GROUP BY 1),
         prd AS (SELECT lang_pred AS lang, CAST(sum(c) AS BIGINT)
                        AS n_pred FROM conf GROUP BY 1),
         tp AS (SELECT lang_actual AS lang, CAST(c AS BIGINT) AS tp
                FROM conf WHERE lang_actual = lang_pred),
         cls AS (
           SELECT coalesce(a.lang, p.lang) AS lang,
                  coalesce(a.n_actual, 0) AS n_actual,
                  coalesce(p.n_pred, 0) AS n_pred,
                  coalesce(t.tp, 0) AS tp
           FROM act a FULL JOIN prd p ON a.lang = p.lang
           LEFT JOIN tp t ON coalesce(a.lang, p.lang) = t.lang),
         tot AS (
           SELECT CAST(sum(n_actual) AS BIGINT) AS n,
                  CAST(sum(tp) AS BIGINT) AS diag,
                  CAST(sum(n_actual * n_pred) AS BIGINT) AS pe_num
           FROM cls),
         m AS (
           SELECT lang, n_actual, n_pred, tp,
                  CASE WHEN n > 0 THEN CAST(diag AS DOUBLE) / n
                  END AS accuracy,
                  CASE WHEN n > 0 THEN CAST(pe_num AS DOUBLE) /
                    (CAST(n AS DOUBLE) * n) END AS pe,
                  CASE WHEN n_pred > 0
                       THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0
                  END AS prec,
                  CASE WHEN n_actual > 0
                       THEN CAST(tp AS DOUBLE) / n_actual ELSE 0.0
                  END AS rec
           FROM cls, tot)
         SELECT lang, n_actual, n_pred, tp,
                prec AS precision, rec AS recall,
                CASE WHEN prec + rec > 0
                     THEN 2.0 * prec * rec / (prec + rec)
                     ELSE 0.0 END AS f1,
                accuracy,
                CASE WHEN pe < 1.0 THEN
                  (accuracy - pe) / (1.0 - pe) END AS kappa
         FROM m ORDER BY lang""",
    // identical integer product ratio into one ln(); deterministic
    // (pmi, w1, w2) top-20
    "txt19_pmi_collocations" ->
      """WITH docs AS (
           SELECT string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         uni AS (SELECT unnest(t) AS w FROM docs),
         uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
                FROM uni GROUP BY 1),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS ttok FROM uni),
         bg AS (
           SELECT unnest(list_transform(
                    generate_series(1, len(t) - 1),
                    i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
           FROM docs WHERE len(t) >= 2),
         bp AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM bg),
         tb AS (SELECT CAST(count(*) AS BIGINT) AS tbg FROM bp),
         bc AS (
           SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy
           FROM bp GROUP BY 1, 2 HAVING count(*) >= 5),
         j AS (
           SELECT bc.w1, bc.w2, bc.cxy, x.cw AS cx, y.cw AS cy,
                  round(ln(CAST(bc.cxy * tt.ttok * tt.ttok AS DOUBLE) /
                     CAST(tb.tbg * x.cw * y.cw AS DOUBLE)), 6) AS pmi
           FROM bc
           JOIN uc x ON bc.w1 = x.w
           JOIN uc y ON bc.w2 = y.w, tt, tb)
         SELECT w1, w2, cxy, cx, cy, pmi
         FROM j ORDER BY pmi DESC, w1, w2 LIMIT 20""",
    // identical spine, arithmetic p-gate, 1e-12 term grid and
    // decimal-pinned per-source sum
    "txt20_jsd_drift" ->
      """WITH tok AS (
           SELECT source,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         sw AS (SELECT source, w, count(*) AS c_sw
                FROM tok GROUP BY 1, 2),
         st AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s
                FROM sw GROUP BY 1),
         wc AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w
                FROM sw GROUP BY 1),
         nn AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM st),
         terms AS (
           SELECT st.source, st.n_s,
                  CAST(coalesce(sw.c_sw, 0) AS DOUBLE) / st.n_s AS p,
                  CAST(wc.c_w AS DOUBLE) / nn.n AS q
           FROM st CROSS JOIN wc CROSS JOIN nn
           LEFT JOIN sw ON sw.source = st.source AND sw.w = wc.w),
         tt AS (
           SELECT source, n_s,
                  round(CASE WHEN p > 0
                          THEN 0.5 * p * ln(p / ((p + q) / 2))
                          ELSE 0.0 END +
                        0.5 * q * ln(q / ((p + q) / 2)), 12) AS term
           FROM terms)
         SELECT source, max(n_s) AS n_tokens,
                round(CAST(CAST(sum(CAST(term AS DECIMAL(24,14)))
                      AS VARCHAR) AS DOUBLE), 6) AS jsd
         FROM tt GROUP BY source ORDER BY source""",
    // identical first-occurrence frame, conditional checkpoint aggs,
    // 1e-12 log grid, decimal-pinned regression sums
    "txt22_heaps_growth" ->
      """WITH docs AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         mx AS (SELECT max(doc_id) AS mx FROM docs),
         firsts AS (
           SELECT w, min(doc_id) AS first_doc FROM (
             SELECT doc_id, unnest(t) AS w FROM docs)
           GROUP BY 1),
         dtok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok
                  FROM docs),
         cps AS (
           SELECT pct, mx * pct // 100 AS cp
           FROM mx, (SELECT unnest([1, 2, 5, 10, 20, 50, 100]) AS pct)),
         vocab AS (
           SELECT pct, cp,
                  CAST(count(CASE WHEN first_doc <= cp THEN 1 END)
                       AS BIGINT) AS vocab
           FROM firsts CROSS JOIN cps GROUP BY 1, 2),
         ntok AS (
           SELECT pct,
                  CAST(sum(CASE WHEN doc_id <= cp THEN n_tok
                           ELSE 0 END) AS BIGINT) AS n_tokens
           FROM dtok CROSS JOIN cps GROUP BY 1),
         pts AS (
           SELECT v.pct, v.cp, v.vocab, n.n_tokens,
                  round(ln(CAST(n.n_tokens AS DOUBLE)), 12) AS x,
                  round(ln(CAST(v.vocab AS DOUBLE)), 12) AS y
           FROM vocab v JOIN ntok n ON v.pct = n.pct),
         reg AS (
           SELECT pct, cp, vocab, n_tokens,
                  CAST(count(*) OVER () AS DOUBLE) AS m,
                  CAST(CAST(sum(CAST(x AS DECIMAL(24,14))) OVER ()
                       AS VARCHAR) AS DOUBLE) AS sx,
                  CAST(CAST(sum(CAST(y AS DECIMAL(24,14))) OVER ()
                       AS VARCHAR) AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(x * x AS DECIMAL(24,12))) OVER ()
                       AS VARCHAR) AS DOUBLE) AS sxx,
                  CAST(CAST(sum(CAST(x * y AS DECIMAL(24,12))) OVER ()
                       AS VARCHAR) AS DOUBLE) AS sxy
           FROM pts),
         fit AS (
           SELECT pct, cp, vocab, n_tokens, m, sx, sy,
                  (m * sxy - sx * sy) / (m * sxx - sx * sx) AS beta
           FROM reg)
         SELECT pct, cp AS n_docs, n_tokens, vocab,
                round(beta, 6) + 0.0 AS heaps_beta,
                round(exp((sy - beta * sx) / m), 6) AS heaps_k
         FROM fit ORDER BY pct""",
    // in-row segment slices, exact integer distinct counts, one
    // division each for ttr/mattr — raw doubles
    "txt21_lexical_diversity" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents WHERE length(trim(text)) > 0),
         f AS (
           SELECT doc_id, toks,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(toks) // 50 AS BIGINT) AS n_segments
           FROM t WHERE len(toks) >= 50),
         dc AS (
           SELECT doc_id, n_tokens, n_segments,
                  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
                  list_transform(range(0, n_segments),
                    i -> len(list_distinct(
                           toks[CAST(i * 50 + 1 AS BIGINT)
                              : CAST(i * 50 + 50 AS BIGINT)]))) AS seg_d
           FROM f)
         SELECT doc_id, n_tokens, n_segments,
                CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
                CAST(list_sum(seg_d) AS DOUBLE) / (n_segments * 50)
                  AS mattr
         FROM dc ORDER BY doc_id""",
    // txt11's MLE-model machinery twice (per-source + global), the
    // identical token-ordered list_sum folds, r6 renders, one raw
    // subtraction
    "txt27_domain_fit" ->
      """WITH tok AS (
           SELECT doc_id, source,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         stot AS (SELECT source, count(*) AS stot FROM tok GROUP BY 1),
         smodel AS (
           SELECT t.source, t.w,
                  ln(CAST(count(*) AS DOUBLE) / CAST(s.stot AS DOUBLE))
                    AS logp_s
           FROM tok t JOIN stot s ON t.source = s.source
           GROUP BY t.source, t.w, s.stot),
         vocab AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
         gmodel AS (
           SELECT w, ln(CAST(cnt AS DOUBLE) /
                        CAST((SELECT sum(cnt) FROM vocab) AS DOUBLE))
                    AS logp_g
           FROM vocab),
         dw AS (SELECT doc_id, source, w, count(*) AS n
                FROM tok GROUP BY 1, 2, 3),
         j AS (
           SELECT d.doc_id, d.source, d.w, CAST(d.n AS BIGINT) AS n,
                  CAST(d.n AS DOUBLE) * sm.logp_s AS ts,
                  CAST(d.n AS DOUBLE) * gm.logp_g AS tg
           FROM dw d
           JOIN smodel sm ON d.source = sm.source AND d.w = sm.w
           JOIN gmodel gm ON d.w = gm.w),
         agg AS (
           SELECT doc_id, source, CAST(sum(n) AS BIGINT) AS n_tokens,
                  list_sum(list(ts ORDER BY w)) AS lls,
                  list_sum(list(tg ORDER BY w)) AS llg
           FROM j GROUP BY 1, 2)
         SELECT doc_id, source, n_tokens,
                round(-lls / n_tokens, 6) AS ce_own,
                round(-llg / n_tokens, 6) AS ce_global,
                round(-llg / n_tokens, 6) - round(-lls / n_tokens, 6)
                  AS fit_gap
         FROM agg ORDER BY doc_id""",
    "txt11_unigram_loglik" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         vocab AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
         model AS (
           SELECT w, ln(CAST(cnt AS DOUBLE) /
                        CAST((SELECT sum(cnt) FROM vocab) AS DOUBLE)) AS logp
           FROM vocab),
         dw AS (SELECT doc_id, w, count(*) AS n FROM tok GROUP BY 1, 2),
         j AS (
           SELECT d.doc_id, d.w, CAST(d.n AS BIGINT) AS n,
                  CAST(d.n AS DOUBLE) * m.logp AS t
           FROM dw d JOIN model m ON d.w = m.w),
         agg AS (
           SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
                  list_sum(list(t ORDER BY w)) AS ll
           FROM j GROUP BY 1)
         SELECT doc_id, n_tokens, round(ll, 6) AS log_lik,
                round(ll / n_tokens, 6) AS avg_log_lik
         FROM agg ORDER BY doc_id""",
    "txt10_pii_redact" ->
      """WITH planted AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 13 = 0
                       THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                            || '@example.com call 555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE text END AS t
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                  AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(t, '\b555-\d{4}\b'))
                  AS BIGINT) AS n_phones,
                regexp_replace(regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'), '\b555-\d{4}\b', '<PHONE>', 'g')
                  AS redacted
         FROM planted
         WHERE len(regexp_extract_all(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
            OR len(regexp_extract_all(t, '\b555-\d{4}\b')) > 0
         ORDER BY doc_id""",
    // exact because capacity (64) ≥ corpus vocabulary (31): the
    // sketch never evicts, so est ≡ count and err ≡ 0
    "txt9_heavy_hitters" ->
      """WITH wc AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents)
         SELECT w AS token, count(*) AS est, CAST(0 AS BIGINT) AS err
         FROM wc GROUP BY 1
         ORDER BY est DESC, token LIMIT 20""",
    "txt14_tfidf_keywords" ->
      """WITH tf AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         tfa AS (SELECT doc_id, w, count(*) AS tf FROM tf GROUP BY 1, 2),
         dfa AS (SELECT w, count(*) AS df FROM tfa GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT t.doc_id, t.w, t.tf,
                  t.tf * ln(CAST(n_docs AS DOUBLE) / df) AS score
           FROM tfa t JOIN dfa USING (w), n),
         ranked AS (
           SELECT doc_id, w, tf, score,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, w) AS rank
           FROM scored)
         SELECT doc_id, rank, w AS term, tf, round(score, 6) AS score
         FROM ranked WHERE rank <= 3
         ORDER BY doc_id, rank""",
    "txt8_vocab" ->
      """WITH wc AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         agg AS (SELECT w, count(*) AS n FROM wc GROUP BY 1)
         SELECT rank, w AS token, n FROM (
           SELECT w, n,
                  row_number() OVER (ORDER BY n DESC, w) AS rank
           FROM agg)
         WHERE rank <= 1000 ORDER BY rank""",
    // integer spectrum totals (Σm² = Σ count² over types), one fixed
    // division per constant
    "txt23_yules_k" ->
      """WITH wc AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         tc AS (SELECT w, CAST(count(*) AS BIGINT) AS m FROM wc GROUP BY 1),
         agg AS (
           SELECT CAST(sum(m) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS n_types,
                  CAST(sum(m * m) AS BIGINT) AS m2,
                  CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS v1,
                  CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS v2
           FROM tc)
         SELECT n_tokens, n_types, v1, v2,
                CAST(10000 AS DOUBLE) * CAST(m2 - n_tokens AS DOUBLE) /
                  CAST(n_tokens * n_tokens AS DOUBLE) AS yules_k,
                CAST(m2 - n_tokens AS DOUBLE) /
                  CAST(n_tokens * (n_tokens - 1) AS DOUBLE) AS simpson_d
         FROM agg""",
    // the shared distinct-3-gram spine, one corpus df agg, integer
    // cells and one exact division (counts BIGINT both engines)
    "txt26_novelty" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
           FROM docs WHERE len(t) >= 3),
         df AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1)
         SELECT s.doc_id,
                CAST(count(*) AS BIGINT) AS n_shingles,
                CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_unique,
                CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
                     AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         FROM sh s JOIN df USING (sh)
         GROUP BY s.doc_id ORDER BY s.doc_id""",
    // all-integer Fano numerator/denominator, one division; same
    // rank spine as txt8
    "txt25_dispersion" ->
      """WITH wc AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         pd AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
                FROM wc GROUP BY 1, 2),
         bt AS (
           SELECT w, CAST(sum(c) AS BIGINT) AS total,
                  CAST(count(*) AS BIGINT) AS df,
                  CAST(sum(c * c) AS BIGINT) AS c2
           FROM pd GROUP BY 1),
         dd AS (SELECT CAST(count(*) AS BIGINT) AS dd FROM documents),
         r AS (
           SELECT w, total, df, c2,
                  row_number() OVER (ORDER BY total DESC, w) AS rank
           FROM bt)
         SELECT CAST(rank AS BIGINT) AS rank, w AS token, total, df,
                CAST(dd * c2 - total * total AS DOUBLE) /
                  CAST(dd * total AS DOUBLE) AS fano
         FROM r, dd WHERE rank <= 20 ORDER BY rank""",
    // the spectrum self-join on r+1; integer products, two divisions
    "txt24_good_turing" ->
      """WITH wc AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
           FROM documents),
         tc AS (SELECT w, CAST(count(*) AS BIGINT) AS r FROM wc GROUP BY 1),
         sp AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
                FROM tc GROUP BY 1),
         tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS nn FROM sp)
         SELECT a.r, a.n_r, b.n_r AS n_r1,
                CAST((a.r + 1) * b.n_r AS DOUBLE) / CAST(a.n_r AS DOUBLE)
                  AS r_star,
                CAST((a.r + 1) * b.n_r AS DOUBLE) / CAST(a.n_r AS DOUBLE)
                  / CAST(t.nn AS DOUBLE) AS p_gt
         FROM sp a JOIN sp b ON b.r = a.r + 1, tot t
         ORDER BY a.r""",
    "txt1_token_stats" ->
      """SELECT doc_id,
                CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
                CAST(length(text) AS BIGINT) AS n_chars_chk,
                round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
                      / len(string_split_regex(lower(trim(text)), '\s+')), 6) AS avg_token_len
         FROM documents ORDER BY doc_id""",
    "txt2_quality_score" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS toks,
                  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS punct,
                  CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS digit,
                  CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) AS upper,
                  CAST(length(text) AS DOUBLE) AS len
           FROM documents),
         r AS (
           SELECT doc_id, punct, digit, upper, len,
                  CAST(len(toks) AS DOUBLE) AS n_tok,
                  CAST(len(list_filter(toks, x -> x IN
                    ('the','a','of','and','to','in','is','on'))) AS DOUBLE) AS stop_n
           FROM t)
         SELECT doc_id,
                CASE WHEN len > 0 THEN round(punct / len, 6) END
                  AS punct_ratio,
                CASE WHEN len > 0 THEN round(digit / len, 6) END
                  AS digit_ratio,
                CASE WHEN len > 0 THEN round(upper / len, 6) END
                  AS upper_ratio,
                CASE WHEN n_tok > 0 THEN round(stop_n / n_tok, 6) END
                  AS stopword_ratio,
                CASE WHEN len > 0 AND n_tok > 0 THEN
                  round(0.5 * (stop_n / n_tok) + 0.3 * (1.0 - punct / len)
                        + 0.2 * (1.0 - digit / len), 6)
                END AS quality
         FROM r ORDER BY doc_id""",
    "txt3_langid" ->
      """WITH t AS (
           SELECT doc_id, lang AS lang_actual,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         v AS (
           SELECT doc_id, lang_actual,
                  CAST(len(list_filter(toks, x -> x IN
                    ('the','and','of','to','is','a'))) AS BIGINT) AS en_votes,
                  CAST(len(list_filter(toks, x -> x IN
                    ('der','die','das','und','ist','ein'))) AS BIGINT) AS de_votes,
                  CAST(len(list_filter(toks, x -> x IN
                    ('el','la','los','de','es','un'))) AS BIGINT) AS es_votes
           FROM t)
         SELECT doc_id, lang_actual, en_votes, de_votes, es_votes,
                CASE WHEN en_votes >= de_votes AND en_votes >= es_votes THEN 'en'
                     WHEN de_votes >= es_votes THEN 'de'
                     ELSE 'es' END AS lang_pred
         FROM v ORDER BY doc_id""",
    "txt4_fingerprint" ->
      """SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",
    "txt5_bpe_tokens" ->
      """WITH t AS (
           SELECT doc_id,
                  regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^\sa-z0-9]') AS toks
           FROM documents)
         SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
                CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
                CAST(len(list_filter(toks,
                  x -> regexp_matches(x, '^[a-z]+$'))) AS BIGINT) AS n_alpha,
                CAST(len(list_filter(toks,
                  x -> regexp_matches(x, '^[0-9]+$'))) AS BIGINT) AS n_num
         FROM t ORDER BY doc_id""",
    "txt6_rolling_fp" ->
      """WITH d AS (
           SELECT doc_id, lower(trim(text)) AS t FROM documents
           WHERE length(lower(trim(text))) >= 11),
         h AS (
           SELECT doc_id,
                  list_transform(range(1, length(t) - 8 + 2),
                    p -> list_reduce(
                           list_prepend(CAST(0 AS BIGINT),
                             list_transform(range(0, 8),
                               j -> CAST(ascii(substring(t, p + j, 1)) AS BIGINT))),
                           (h, c) -> (h * 257 + c) % 1000000007)) AS hs
           FROM d),
         w AS (
           SELECT doc_id,
                  list_transform(range(1, len(hs) - 4 + 2),
                    i -> list_min(hs[i:i+3])) AS fps
           FROM h)
         SELECT doc_id, CAST(len(list_distinct(fps)) AS BIGINT) AS n_fp,
                list_min(fps) AS min_fp, list_max(fps) AS max_fp
         FROM w ORDER BY doc_id""",
    "f6_sentiment_lexicon" -> s"""
         WITH lex(word, valence) AS (VALUES $lexiconSqlValues),
         tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
           FROM documents),
         scored AS (
           SELECT t.doc_id, sum(coalesce(l.valence, 0.0)) AS sv,
                  count(l.valence) AS n_hits
           FROM tok t LEFT JOIN lex l ON t.word = l.word
           GROUP BY 1)
         SELECT doc_id, round(sv / sqrt(sv * sv + 15.0), 6) AS compound, n_hits
         FROM scored ORDER BY doc_id""",
    // F7 replays everything downstream of the per-token rule kernel
    // from the F7VaderDump intermediate: in-order list sum (Spark's
    // aggregate fold is the same left-to-right order), the
    // exclamation emphasis gated on s <> 0, the α = 15 normalization
    // and the clamp. Empty arrays must sum to 0.0 (Spark's fold
    // does; DuckDB's list_sum returns NULL) — hence the COALESCE
    // gated on vals IS NOT NULL so NULL text stays NULL.
    "f7_vader_rules" ->
      s"""WITH base AS (
            SELECT doc_id,
                   CASE WHEN vals IS NULL THEN NULL
                        ELSE COALESCE(list_sum(vals), 0.0) END AS s,
                   bangs
            FROM '${Dumps.oraclePath("f7_vader")}/*.parquet'),
          adj AS (
            SELECT doc_id,
                   CASE WHEN s <> 0 THEN
                     s + sign(s) * bangs *
                       CAST(${graft.functions.Vader.BangIncr} AS DOUBLE)
                   ELSE s END AS s2
            FROM base)
          SELECT doc_id,
                 (round(greatest(CAST(-1.0 AS DOUBLE),
                   least(CAST(1.0 AS DOUBLE),
                     s2 / sqrt(s2 * s2 + ${graft.functions.Vader.Alpha}))),
                   6) + 0.0) AS compound
          FROM adj ORDER BY doc_id""",
    "d1_exact_dedup" ->
      """WITH hashed AS (
           SELECT doc_id,
                  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
           FROM documents)
         SELECT doc_id, h, group_size FROM (
           SELECT doc_id, h,
                  row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn,
                  count(*) OVER (PARTITION BY h) AS group_size
           FROM hashed) WHERE rn = 1
         ORDER BY doc_id""",
    "d2_ngram_jaccard" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents WHERE doc_id < 100),
         sh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
           FROM docs WHERE len(t) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT da, db,
                round(CAST(i AS DOUBLE) / (x.sz + y.sz - i), 6) AS jaccard
         FROM inter JOIN sizes x ON da = x.doc_id
                    JOIN sizes y ON db = y.doc_id
         WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.01
         ORDER BY da, db""",
    // threshold applied to the ROUNDED values, mirroring the engine;
    // doc_id < 500 covers the planted near-dup families (the < 100
    // slice holds none of the high-containment pairs)
    "d15_containment" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents WHERE doc_id < 500),
         sh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
           FROM docs WHERE len(t) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         c AS (
           SELECT da, db,
                  round(CAST(i AS DOUBLE) / x.sz, 6) AS cont_a_in_b,
                  round(CAST(i AS DOUBLE) / y.sz, 6) AS cont_b_in_a
           FROM inter JOIN sizes x ON da = x.doc_id
                      JOIN sizes y ON db = y.doc_id)
         SELECT da, db, cont_a_in_b, cont_b_in_a FROM c
         WHERE cont_a_in_b >= 0.5 OR cont_b_in_a >= 0.5
         ORDER BY da, db""",
    // identical 8-token windows (ALL occurrences, not distinct — a
    // within-doc repeat is still an occurrence), identical span-recurs-
    // in-≥2-docs rule, exact integer folds
    "d17_repeated_spans" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         w AS (
           SELECT doc_id, unnest(list_transform(
                    generate_series(1, len(t) - 7),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                         t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
                         t[i+6] || ' ' || t[i+7])) AS sp
           FROM docs WHERE len(t) >= 8),
         occ AS (SELECT doc_id, sp, count(*) AS c FROM w GROUP BY 1, 2),
         nd AS (SELECT sp, count(*) AS nd FROM occ GROUP BY 1)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_spans,
                CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT)
                  AS n_dup,
                round(CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END)
                      AS DOUBLE) / sum(c), 6) AS dup_frac
         FROM occ JOIN nd USING (sp)
         GROUP BY doc_id ORDER BY doc_id"""
  )
}
