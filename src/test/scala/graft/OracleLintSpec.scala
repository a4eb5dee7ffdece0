package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Oracle lint for the DuckDB HUGEINT widening class (a57 → f12 → w27,
  * three recurrences — this spec kills the class for good).
  *
  * DuckDB widens `sum(BIGINT)` to HUGEINT; pandas then materializes the
  * column as float64/object, and the driver's value hash diverges from
  * the Spark twin's int64 even when every value is numerically equal.
  * The failing shape is precisely: an oracle `sum(...)` that is
  *   (a) NOT immediately wrapped in `CAST( ... )`,
  *   (b) NOT re-cast later via `CAST(alias AS ...)`, and
  *   (c) aliased to a column the Spark twin emits as an INTEGRAL type
  *       (Long/Int/Short/Byte) in its OUTPUT schema.
  * Intermediate HUGEINTs that feed arithmetic (→ DOUBLE), grouping
  * keys, or comparisons are harmless — only an integral column that
  * survives to the compared output can hash-diverge, which is why the
  * lint types the alias against the Spark result schema instead of
  * guessing integer-ness from the SQL text.
  *
  * The scan is a small hand parser (balanced parens; skips `FILTER
  * (...)` and `OVER (...)`/`OVER w` before the alias), so windowed
  * running sums — w27's actual bug — are covered, not just plain
  * aggregates. Getting the Spark schema is analysis-only (`.schema`
  * never executes the plan), though eager query builders (source
  * round-trips, streaming twins) do run; the candidate set is small
  * (~40 queries), so the suite cost stays bounded.
  */
class OracleLintSpec extends AnyFunSuite {

  private def skipWs(s: String, i: Int): Int = {
    var j = i
    while (j < s.length && s(j).isWhitespace) j += 1
    j
  }

  /** Index just past the ')' matching the '(' at `open`, or -1. */
  private def balancedEnd(s: String, open: Int): Int = {
    var d = 0
    var i = open
    while (i < s.length) {
      s(i) match {
        case '(' => d += 1
        case ')' => d -= 1; if (d == 0) return i + 1
        case _   =>
      }
      i += 1
    }
    -1
  }

  private def word(s: String, i: Int): (String, Int) = {
    var j = i
    while (j < s.length && (s(j).isLetterOrDigit || s(j) == '_')) j += 1
    (s.substring(i, j), j)
  }

  /** Aliases of `sum(...)` occurrences in `sql` with no CAST protection
    * (neither an immediate `CAST(sum(...) ...)` wrapper nor a later
    * `CAST(alias AS ...)` re-pin). Unaliased sums are inline operands
    * of wider expressions and cannot reach the output unconverted. */
  private[graft] def unprotectedSumAliases(sql: String): Seq[String] = {
    val low = sql.toLowerCase
    val out = scala.collection.mutable.ListBuffer[String]()
    val sumRe = "\\bsum\\s*\\(".r
    for (m <- sumRe.findAllMatchIn(low)) {
      val wrapped = "(?s).*\\bcast\\s*\\(\\s*$".r
        .pattern.matcher(low.substring(0, m.start)).matches()
      if (!wrapped) {
        val open = low.indexOf('(', m.start)
        val close = balancedEnd(low, open)
        if (close > 0) {
          // skip any FILTER (...) / OVER (...) / OVER <name> tail
          var k = skipWs(low, close)
          var more = true
          while (more && k < low.length) {
            val (w, j) = word(low, k)
            if (w == "filter" || w == "over") {
              val p = skipWs(low, j)
              if (p < low.length && low(p) == '(') {
                val e = balancedEnd(low, p)
                if (e < 0) more = false else k = skipWs(low, e)
              } else {
                val (_, j2) = word(low, p) // named window: OVER w5
                k = skipWs(low, j2)
              }
            } else more = false
          }
          val (w, j) = word(low, k)
          if (w == "as") {
            val (alias, _) = word(low, skipWs(low, j))
            if (alias.nonEmpty) {
              // qualified references count: CAST(st.n1 AS BIGINT)
              val recast =
                ("\\bcast\\s*\\(\\s*(?:[a-z0-9_]+\\.)?" +
                  java.util.regex.Pattern.quote(alias) + "\\s+as\\s+").r
              if (recast.findFirstIn(low.substring(close)).isEmpty)
                out += alias
            }
          }
        }
      }
    }
    out.distinct.toSeq
  }

  test("scanner catches the w27 shape (windowed + plain, cast-protected skipped)") {
    val buggy =
      """WITH c AS (SELECT k, sum(qty) AS vol FROM t GROUP BY k)
         SELECT k, vol, sum(sv) OVER (PARTITION BY k ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS obv
         FROM c"""
    assert(unprotectedSumAliases(buggy) == Seq("vol", "obv"))
    val fixed =
      """WITH c AS (SELECT k, CAST(sum(qty) AS BIGINT) AS vol FROM t GROUP BY k)
         SELECT k, vol, CAST(sum(sv) OVER (PARTITION BY k ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
         FROM c"""
    assert(unprotectedSumAliases(fixed).isEmpty)
    // later re-cast protects an uncast CTE sum
    val recast =
      """WITH c AS (SELECT k, sum(qty) AS vol FROM t GROUP BY k)
         SELECT k, CAST(vol AS BIGINT) AS vol FROM c"""
    assert(unprotectedSumAliases(recast).isEmpty)
    // named window + FILTER tails parse through to the alias
    val named =
      """SELECT sum(x) FILTER (WHERE x > 0) OVER w AS s FROM t
         WINDOW w AS (ORDER BY d)"""
    assert(unprotectedSumAliases(named) == Seq("s"))
  }

  /** Occurrences of `CAST(<expr containing a DECIMAL sum> AS DOUBLE)`
    * where the decimal never passes through the VARCHAR round-trip.
    * DuckDB's decimal→double cast divides the scaled int128 in
    * floating point and lands one ulp off Spark's correctly-rounded
    * BigDecimal.doubleValue once the sum passes ~16 digits; the
    * repo-wide discipline is `CAST(CAST(sum(...) AS VARCHAR) AS
    * DOUBLE)` (see the verify skill notes), and this lint makes the
    * discipline machine-checked instead of folklore. */
  private[graft] def rawDecimalToDouble(sql: String): Seq[String] = {
    val low = sql.toLowerCase
    val out = scala.collection.mutable.ListBuffer[String]()
    for (m <- "\\bcast\\s*\\(".r.findAllMatchIn(low)) {
      val open = low.indexOf('(', m.start)
      val close = balancedEnd(low, open)
      if (close > 0) {
        val body = low.substring(open + 1, close - 1)
        // the cast's own type is the LAST top-level " as <type>"
        var depth = 0; var lastAs = -1
        var i = 0
        while (i < body.length - 3) {
          body(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ if depth == 0 && body.startsWith(" as ", i) => lastAs = i
            case _ =>
          }
          i += 1
        }
        if (lastAs > 0) {
          val tpe = body.substring(lastAs + 4).trim
          val expr = body.substring(0, lastAs)
          if (tpe.startsWith("double") && expr.contains("as decimal") &&
              expr.contains("sum") && !expr.contains("as varchar"))
            out += body.take(60).replaceAll("\\s+", " ")
        }
      }
    }
    out.toSeq
  }

  test("scanner catches the raw decimal→double shape (varchar round-trip skipped)") {
    val buggy = "SELECT CAST(sum(CAST(x AS DECIMAL(24,10))) AS DOUBLE) AS s FROM t"
    assert(rawDecimalToDouble(buggy).nonEmpty)
    val fixed = "SELECT CAST(CAST(sum(CAST(x AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE) AS s FROM t"
    assert(rawDecimalToDouble(fixed).isEmpty)
    // plain integer/double casts are not the hazard
    assert(rawDecimalToDouble("SELECT CAST(i AS DOUBLE) FROM t").isEmpty)
  }

  test("no oracle casts a decimal sum straight to DOUBLE (ulp-divergence class)") {
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) => rawDecimalToDouble(sql).map(s => s"$name: $s")
    }
    assert(offenders.isEmpty,
      "decimal sums must render through CAST(... AS VARCHAR) before " +
        s"DOUBLE:\n  ${offenders.mkString("\n  ")}")
  }

  test("no oracle leaves an integer sum uncast (HUGEINT hash-divergence class)") {
    val spark = SparkTestSession.spark
    val sf = SparkTestSession.Sf0001
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        val aliases = unprotectedSumAliases(sql)
        if (aliases.isEmpty) Nil
        else {
          val schema =
            try SparkEntry.queries(name)(spark, sf).schema
            catch {
              case e: Throwable =>
                fail(s"lint could not analyze $name: ${e.getMessage}")
            }
          aliases.flatMap { a =>
            schema.fields.find(_.name.equalsIgnoreCase(a)).collect {
              case f if Set[Any](LongType, IntegerType, ShortType, ByteType)
                .contains(f.dataType) => s"$name.$a (${f.dataType.simpleString})"
            }
          }
        }
    }
    assert(offenders.isEmpty,
      s"uncast integer sums in oracles — wrap in CAST(... AS BIGINT):\n  " +
        offenders.mkString("\n  "))
  }

  // Whole-oracle copies: two queries whose oracles are the same text
  // share one `String` (one query's oracle points at the other's), so a
  // fix to the oracle cannot reach one copy and miss the other. Texts
  // are compared with whitespace runs collapsed. Equal string literals
  // are interned into one object, so `eq` alone cannot see a verbatim
  // paste: the sources must also spell each shared text out once.
  test("every oracle text shared by two queries is one String") {
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(java.nio.file.Files.readString(_)).mkString("\n")
    val spelled = "\"(\\w+)\" ->\\s*s?\"{3}".r
      .findAllMatchIn(sources).map(_.group(1)).toSet
    val pasted = SparkEntry.oracleSql.toSeq
      .groupBy { case (_, sql) => sql.trim.replaceAll("\\s+", " ") }
      .values.map(_.sortBy(_._1))
      .filter(g => g.size > 1 &&
        (g.exists(_._2 ne g.head._2) || g.count(e => spelled(e._1)) > 1))
      .map(_.map(_._1).mkString(", ")).toSeq.sorted
    assert(pasted.isEmpty,
      s"${pasted.size} oracle texts are pasted copies, not one shared " +
        s"String:\n  ${pasted.mkString("\n  ")}")
  }
}
