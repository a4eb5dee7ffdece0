package graft.functions

/** VADER-style rule-based sentiment scorer (F6/F7).
  *
  * The reference scores each article with the published VADER
  * algorithm (`/root/reference/scripts/03_add_sentiment.py:10,28`,
  * via the `vaderSentiment` package). This is an original Scala
  * implementation of the public algorithm's core rules (Hutto &
  * Gilbert 2014) over the embedded lexicon (the full ~7.5k-entry
  * published file is not shipped in this container; divergence
  * documented on [[VaderLexicon]]):
  *
  *  - token valences from the lexicon ([[VaderLexicon.entries]]
  *    merged under the oracle-checked F6 set, which wins on collision);
  *  - booster words within 3 tokens scale the valence (decayed
  *    0.95/0.9 by distance, as published) — and, as published, only
  *    when the booster token is not itself a lexicon word;
  *  - a negator within 3 preceding tokens flips valence × −0.74;
  *  - "no" before a lexicon word is negation-only: its own −1.2
  *    valence is skipped (published special case). Divergence: the
  *    published scorer limits "no"-as-negator to 1–2 tokens back
  *    (3 with or/nor); here it shares the uniform 3-token negator
  *    window;
  *  - ALL-CAPS emphasis: when the text mixes cases, an upper-cased
  *    lexicon or booster token adds ±0.733 along the valence sign;
  *  - the "but" pivot: valences before the first "but" are halved,
  *    valences after it are amplified ×1.5;
  *  - trailing exclamation marks add emphasis (×0.292 each, max 4);
  *  - compound = s / sqrt(s² + 15), clamped to [−1, 1].
  */
object Vader {

  /** Merged scoring lexicon: the published-slice entries overlaid by
    * the 20 oracle-checked F6 valences (F6 wins on collision). */
  val lexicon: Map[String, Double] =
    VaderLexicon.entries ++ graft.operators.TextAnalysis.lexicon.toMap

  // package-visible so VaderSpec can assert booster/lexicon
  // disjointness (a shared key would double-count: valence AND boost)
  private[functions] val boosters: Map[String, Double] = Map(
    "very" -> 0.293, "extremely" -> 0.293, "incredibly" -> 0.293,
    "really" -> 0.193, "slightly" -> -0.293, "somewhat" -> -0.193,
    // published BOOSTER_DICT completion (round 9), single-token
    // entries only and minus the ones already carrying a lexicon
    // valence here (amazingly/awfully/greatly/... — the published
    // scorer lets the two dicts overlap and checks boosters first;
    // this engine keeps them disjoint, VaderSpec-asserted, so a
    // shared key can never double-count valence AND boost)
    "absolutely" -> 0.293, "completely" -> 0.293,
    "considerably" -> 0.293, "decidedly" -> 0.293, "deeply" -> 0.293,
    "enormously" -> 0.293, "entirely" -> 0.293, "especially" -> 0.293,
    "exceptionally" -> 0.293, "fully" -> 0.293, "highly" -> 0.293,
    "hugely" -> 0.293, "intensely" -> 0.293, "majorly" -> 0.293,
    "particularly" -> 0.293, "purely" -> 0.293, "quite" -> 0.293,
    "substantially" -> 0.293, "thoroughly" -> 0.293,
    "totally" -> 0.293, "tremendously" -> 0.293,
    "unbelievably" -> 0.293, "unusually" -> 0.293, "utterly" -> 0.293,
    "almost" -> -0.293, "barely" -> -0.293, "hardly" -> -0.293,
    "marginally" -> -0.293, "occasionally" -> -0.293,
    "partly" -> -0.293, "scarcely" -> -0.293, "slight" -> -0.293)

  private val negators: Set[String] = Set(
    "not", "no", "never", "none", "isnt", "dont", "cant", "wont",
    "isn't", "don't", "can't", "won't", "neither", "nor")

  private val CapsIncr = 0.733   // published C_INCR
  private val NegScalar = -0.74  // published N_SCALAR
  // BangIncr/Alpha/BangCap are private[graft]: the f7_vader_rules
  // compound recompute (TextAnalysis) and its DuckDB oracle
  // interpolate them so the query/oracle pair can never silently
  // desynchronize from this kernel.
  private[graft] val BangIncr = 0.292 // per-'!' emphasis
  private[graft] val BangCap = 4      // max '!' counted
  private[graft] val Alpha = 15.0     // published normalization alpha

  private def stripPunct(t: String): String =
    t.dropWhile(c => !c.isLetterOrDigit)
      .reverse.dropWhile(c => !c.isLetterOrDigit).reverse

  /** Python str.isupper() semantics: has a cased char and every cased
    * char is upper — the published allcap-differential test. */
  private def isAllCaps(t: String): Boolean =
    t.exists(_.isLetter) && t.forall(c => !c.isLetter || c.isUpper)

  /** Per-token adjusted valences — one entry per SCORED token
    * (lexicon hit not consumed by the "no"-negation special case), in
    * token order, with every rule already applied (caps emphasis,
    * booster decay, negation flips, the "but" pivot). This is the
    * materialized-intermediate boundary of the F7 oracle: the
    * sequential-lookback rule state lives INSIDE each entry, and
    * everything downstream of the array — the sum, the exclamation
    * emphasis, the α = 15 normalization, the clamp — is plain SQL a
    * DuckDB twin replays from the dump. [[compound]] consumes this
    * array left-to-right, so the two can never drift. */
  def tokenScores(text: String): Array[Double] = {
    if (text == null || text.isEmpty) return Array.emptyDoubleArray
    // published tokenization: punctuation is stripped from a token
    // UNLESS the raw form is itself a lexicon entry — that's how
    // emoticons (":)", "<3") and scored punctuation-words survive
    // (vaderSentiment's _words_and_emoticons preserves emoticons)
    val raw = text.trim.split("\\s+").toIndexedSeq
      .map(t => if (lexicon.contains(t.toLowerCase)) t else stripPunct(t))
    val toks = raw.map(_.toLowerCase)
    // ALL-CAPS emphasis only applies when the text MIXES cases
    // (all-caps headlines shout uniformly → no differential).
    val nCaps = raw.count(isAllCaps)
    val capsDiff = nCaps > 0 && nCaps < raw.length
    val butIdx = toks.indexOf("but")
    val decay = Array(1.0, 0.95, 0.9)
    val out = new scala.collection.mutable.ArrayBuffer[Double]()
    var i = 0
    while (i < toks.length) {
      // "no" directly before a lexicon word acts as pure negation:
      // its own lexicon valence is zeroed (published special case —
      // otherwise "no good" would double-count "no" AND the flip).
      val noAsNegation = toks(i) == "no" && i + 1 < toks.length &&
        lexicon.contains(toks(i + 1))
      if (!noAsNegation) lexicon.get(toks(i)).foreach { v0 =>
        var v = v0
        if (capsDiff && isAllCaps(raw(i))) v += math.signum(v0) * CapsIncr
        // look back up to 3 tokens for boosters / negators
        var back = 1
        while (back <= 3 && i - back >= 0) {
          val prev = toks(i - back)
          // published guard: a lexicon word is scored on its own and
          // never doubles as a booster for the word after it
          if (!lexicon.contains(prev)) boosters.get(prev).foreach { b =>
            var sc = math.signum(v0) * b
            if (capsDiff && isAllCaps(raw(i - back)))
              sc += math.signum(v0) * CapsIncr
            v += sc * decay(back - 1)
          }
          if (negators.contains(prev)) v *= NegScalar
          back += 1
        }
        if (butIdx >= 0) {
          if (i < butIdx) v *= 0.5
          else if (i > butIdx) v *= 1.5
        }
        out += v
      }
      i += 1
    }
    out.toArray
  }

  /** Compound score in [-1, 1]; 0.0 for empty/neutral text. The
    * left-to-right sum over [[tokenScores]] is bit-identical to the
    * pre-refactor in-loop accumulator. */
  def compound(text: String): Double = {
    if (text == null || text.isEmpty) return 0.0
    val vs = tokenScores(text)
    var s = 0.0
    var i = 0
    while (i < vs.length) { s += vs(i); i += 1 }
    if (s != 0.0) {
      val bangs = math.min(text.count(_ == '!'), BangCap)
      s += math.signum(s) * bangs * BangIncr
    }
    val c = s / math.sqrt(s * s + Alpha)
    math.max(-1.0, math.min(1.0, c))
  }
}
