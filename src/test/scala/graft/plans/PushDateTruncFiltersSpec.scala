package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{PlanShape, SparkTestSession, Tables}

/** The date_trunc-pushdown optimizer rule: a filter on the TRUNCATED
  * ts column must gain pushed raw-ts bounds under the rule (and
  * return exactly the same rows); unaligned equality literals and
  * comparisons under OR must be left alone.
  *
  * The shared test session carries the rule (via GraftExtensions); the
  * rule-less comparison session is a `newSession()` of it that
  * excludes the rule by name, so the shared session is untouched.
  */
class PushDateTruncFiltersSpec extends AnyFunSuite {
  private lazy val ruled = SparkTestSession.spark
  private lazy val bare = {
    val s = ruled.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.PushDateTruncFilters")
    s
  }
  private val sf = SparkTestSession.Sf0001

  /** The filters the plan's file scans hand their parquet reader. */
  private def pushed(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val scans = PlanShape.of(df).scans
    assert(scans.nonEmpty, "no file scan")
    scans.flatMap(_.pushedFilters)
  }

  private def dayEq(s: org.apache.spark.sql.SparkSession) =
    Tables.events(s, sf)
      .filter(date_trunc("day", col("ts")) === lit("2024-01-10 00:00:00")
        .cast("timestamp"))
      .select("event_id")

  test("day-equality on the truncated column gains pushed raw bounds") {
    val s = ruled
    val scan = pushed(dayEq(s))
    assert(scan.exists(_.startsWith("GreaterThanOrEqual(ts,")) &&
           scan.exists(_.startsWith("LessThan(ts,")),
      s"rule did not push the bounds: $scan")
    // the rule-less session must NOT have them (the asymmetry the
    // rule exists to close)
    val bareScan = pushed(dayEq(bare))
    assert(!bareScan.exists(_.contains("GreaterThanOrEqual(ts,")), bareScan)
  }

  test("rule preserves results exactly across all comparison shapes") {
    val s = ruled
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val shapes: Seq[org.apache.spark.sql.Column] = Seq(
      date_trunc("day", col("ts")) === lit("2024-01-10 00:00:00")
        .cast("timestamp"),
      date_trunc("day", col("ts")) >= lit("2024-01-10 00:00:00")
        .cast("timestamp"),
      date_trunc("day", col("ts")) < lit("2024-01-20 12:34:56")
        .cast("timestamp"),
      date_trunc("hour", col("ts")) <= lit("2024-01-15 07:00:00")
        .cast("timestamp"),
      date_trunc("month", col("ts")) === lit("2024-01-01 00:00:00")
        .cast("timestamp"),
      lit("2024-01-12 00:00:00").cast("timestamp") >
        date_trunc("day", col("ts")))
    for (p <- shapes) {
      val a = ids(Tables.events(s, sf).filter(p))
      val b = ids(Tables.events(bare, sf).filter(p))
      assert(a == b, s"rule changed results for $p")
      assert(a.nonEmpty || b.isEmpty)
    }
  }

  test("unaligned equality literal is left alone") {
    val s = ruled
    // 10:30 is not day-aligned: the predicate is constant-false on
    // real data; the rule must not add bounds (and must not break it)
    val df = Tables.events(s, sf)
      .filter(date_trunc("day", col("ts")) === lit("2024-01-10 10:30:00")
        .cast("timestamp"))
      .select("event_id")
    val scan = PlanShape.of(df).scans.flatMap(_.pushedFilters)
    assert(!scan.exists(_.contains("GreaterThanOrEqual(ts,")), scan)
    assert(df.count() == 0)
  }

  test("comparisons under OR are left alone (no unsound conjuncts)") {
    val s = ruled
    val p = (date_trunc("day", col("ts")) === lit("2024-01-10 00:00:00")
      .cast("timestamp")) || col("event_type") === "click"
    val df = Tables.events(s, sf).filter(p).select("event_id")
    val scan = pushed(df)
    assert(!scan.exists(_.contains("GreaterThanOrEqual(ts,")), scan)
    val a = df.collect().map(_.getLong(0)).sorted.toSeq
    val b = Tables.events(bare, sf).filter(p)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }
}
