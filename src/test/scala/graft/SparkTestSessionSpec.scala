package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared test session comes from the drivers' factory, so specs
  * see the same SQL functions and optimizer rules as Bench and Verify. */
class SparkTestSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("native functions resolve in SQL and p9_day_slice gets ts bounds") {
    val c = spark.sql("SELECT vader_compound('very good day!')")
      .head().getDouble(0)
    assert(c > 0.0)
    val scan = PlanShape.of(SparkEntry.queries("p9_day_slice")(spark,
        SparkTestSession.Sf0001)).scans.flatMap(_.pushedFilters)
    assert(scan.exists(_.startsWith("GreaterThanOrEqual(ts,")) &&
      scan.exists(_.startsWith("LessThan(ts,")), scan)
  }
}
