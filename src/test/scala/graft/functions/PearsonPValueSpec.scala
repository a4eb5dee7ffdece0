package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The native p-value kernel: agrees with the Scala StudentT,
  * propagates NULL/NaN correctly, and stays inside whole-stage
  * codegen (the reason it exists instead of a UDF).
  */
class PearsonPValueSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def df = {
    import spark.implicits._
    Seq(
      (0.529, 34L), (-0.529, 34L), (0.9, 10L), (0.0, 100L), (0.05, 5L)
    ).toDF("r", "n")
  }

  test("matches the Scala kernel row-for-row (codegen path)") {
    val got = df.select(col("r"), col("n"),
        PearsonPValue.pValue(col("r"), col("n")).as("p"))
      .collect()
    got.foreach { row =>
      val expect = StudentT.pValue(row.getDouble(0), row.getLong(1))
      assert(math.abs(row.getDouble(2) - expect) < 1e-15,
        s"r=${row.getDouble(0)} n=${row.getLong(1)}")
    }
  }

  test("NULL in → NULL out; invalid dof (NaN) → NULL") {
    import spark.implicits._
    val rows = Seq((Some(0.5), Some(10L)), (None, Some(10L)),
        (Some(0.5), None), (Some(0.5), Some(2L)))
      .toDF("r", "n")
      .select(PearsonPValue.pValue(col("r"), col("n")).as("p"))
      .collect()
    assert(!rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))   // NULL r
    assert(rows(2).isNullAt(0))   // NULL n
    assert(rows(3).isNullAt(0))   // n=2 → NaN → NULL
  }

  test("SQL-callable after extension registration") {
    val p = spark.sql("SELECT pearson_pvalue(CAST(0.529 AS DOUBLE), 34L)")
      .head().getDouble(0)
    assert(math.abs(p - StudentT.pValue(0.529, 34)) < 1e-15)
    // arity misuse is rejected with the function's own message
    val e = intercept[Exception] {
      spark.sql("SELECT pearson_pvalue(1.0)").head()
    }
    assert(e.getMessage.contains("pearson_pvalue"))
  }

  test("stays inside WholeStageCodegen (no UDF barrier)") {
    // over a parquet scan — a local Seq collapses to LocalTableScan
    // before any codegen stage exists
    val p = graft.PlanShape.of(graft.Tables.events(spark,
        SparkTestSession.Sf0001)
      .select(PearsonPValue.pValue(
        col("value") / lit(1000.0), col("event_id")).as("p")))
    // a codegen fallback would evaluate the call outside the stage
    assert(p.kernels == Seq(graft.PlanShape.Kernel("PearsonPValue.pValue",
      inCodegen = true)), p)
    assert(p.count("BatchEvalPython") == 0, p)
  }
}
