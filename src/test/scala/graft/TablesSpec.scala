package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scan-shape checks: the bounded events scan must reach the parquet
  * reader as pushed µs-timestamp filters (row-group pruning), and a
  * filter written directly against `ts` must push identically — with
  * the timestamp[us] layout there is no conversion layer for a
  * predicate to get stuck above.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  private val Lo = "2024-01-10 00:00:00"
  private val Hi = "2024-01-20 00:00:00"

  test("eventsBetween pushes the ts range into the parquet scan") {
    val scan = PlanShape.of(Tables.eventsBetween(spark, sf, Lo, Hi))
      .scans.flatMap(_.pushedFilters)
    assert(scan.exists(_.startsWith("GreaterThanOrEqual(ts,")) &&
           scan.exists(_.startsWith("LessThan(ts,")),
      s"ts bounds not pushed: $scan")
    // an ad-hoc filter on ts must push just as well — pushdown is
    // native to the timestamp[us] layout, not a property of the helper
    val naiveScan = PlanShape.of(Tables.events(spark, sf)
      .filter(col("ts") >= lit(Lo) && col("ts") < lit(Hi)))
      .scans.flatMap(_.pushedFilters)
    assert(naiveScan.exists(_.startsWith("GreaterThanOrEqual(ts,")),
      s"ad-hoc ts bound not pushed: $naiveScan")
  }

  test("eventsBetween equals the post-conversion filter row-for-row") {
    val bounded = Tables.eventsBetween(spark, sf, Lo, Hi)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val naive = Tables.events(spark, sf)
      .filter(col("ts") >= lit(Lo) && col("ts") < lit(Hi))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(bounded.nonEmpty)
    assert(bounded.toSeq == naive.toSeq)
  }
}
