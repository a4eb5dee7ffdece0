package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-document screen for the text/dedup families (the
  * StatsDegenerateSpec pattern): a corpus of empty strings, whitespace,
  * single tokens, and sub-shingle docs hits every "divide by token
  * count / shingle count / doc count" arm at once — Spark 4 ANSI
  * throws on any division by zero, and the natural corpus never has a
  * doc under 3 tokens. The screen runs EVERY TextAnalysis query over
  * the fixture and pins the crash inventory as a ratchet (shrink-only). */
class TextDegenerateSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private lazy val tinyDir: String = {
    import spark.implicits._
    val d = graft.SparkTestSession.fixtureDir("txt-deg")
    Seq(
      (1L, "", "en", "wiki", 0L),
      (2L, "   ", "en", "wiki", 3L),
      (3L, "one", "en", "web", 3L),
      (4L, "two tokens", "en", "web", 10L),
      (5L, "exactly three tokens", "en", "news", 20L),
      (6L, "a b a b a b", "en", "news", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  // Known degenerate-document throwers, pinned shrink-only (the
  // StatsDegenerateSpec ratchet contract). Populated from the first
  // screen run; each future guard removes its entry.
  private val KnownTinyDocThrows: Set[String] = Set()

  test("tiny-doc crash set can only shrink (text-family ANSI ratchet)") {
    val failures = TextAnalysis.queries.keys.toSeq.sorted.flatMap { name =>
      try { TextAnalysis.queries(name)(spark, tinyDir).collect(); None }
      catch { case e: Throwable =>
        Some(name -> e.getMessage.linesIterator.take(1).mkString) }
    }
    val newCrashes = failures.filterNot(f => KnownTinyDocThrows(f._1))
    assert(newCrashes.isEmpty,
      s"NEW tiny-doc ANSI crashes (guard them): $newCrashes")
    val fixed = KnownTinyDocThrows
      .intersect(TextAnalysis.queries.keySet).diff(failures.map(_._1).toSet)
    assert(fixed.isEmpty,
      s"these no longer throw — remove from the ratchet: $fixed")
  }

  // The same contract over the OTHER document-family operators.
  // Queries needing tables the fixture doesn't carry (events,
  // embeddings, orders) surface as PATH_NOT_FOUND — a fixture gap,
  // not a kernel crash — and are skipped explicitly.
  private val KnownTinyDocThrowsOther: Set[String] = Set()

  test("dedup/multimodal/assembly tiny-doc crash set can only shrink") {
    val families = Seq(
      Dedup.queries, Multimodal.queries, DatasetOps.queries,
      Curation.queries)
    val all = families.flatMap(_.toSeq).sortBy(_._1)
    var skipped = 0
    val failures = all.flatMap { case (name, fn) =>
      try { fn(spark, tinyDir).collect(); None }
      catch {
        case e: Throwable
            if e.getMessage != null &&
              e.getMessage.contains("PATH_NOT_FOUND") =>
          skipped += 1; None
        case e: Throwable =>
          Some(name -> e.getMessage.linesIterator.take(1).mkString)
      }
    }
    val newCrashes = failures.filterNot(f => KnownTinyDocThrowsOther(f._1))
    assert(newCrashes.isEmpty,
      s"NEW tiny-doc ANSI crashes (guard them): $newCrashes")
    val fixed = KnownTinyDocThrowsOther
      .intersect(all.map(_._1).toSet).diff(failures.map(_._1).toSet)
    assert(fixed.isEmpty,
      s"these no longer throw — remove from the ratchet: $fixed")
    assert(skipped < all.size, "vacuous: every query skipped")
  }
}
