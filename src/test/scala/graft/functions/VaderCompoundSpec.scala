package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The native VADER kernel: agrees with the Scala kernel,
  * propagates NULL, and stays inside whole-stage codegen (the reason
  * it exists instead of the Scala UDF it replaced).
  */
class VaderCompoundSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("matches the Scala kernel row-for-row over real documents") {
    val got = graft.Tables.documents(spark, SparkTestSession.Sf0001)
      .select(col("text"),
        VaderCompound.compound(col("text")).as("c"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { row =>
      val expect = Vader.compound(row.getString(0))
      assert(row.getDouble(1) == expect,
        s"text=${row.getString(0).take(60)}")
    }
  }

  test("NULL in → NULL out; empty text scores 0.0") {
    import spark.implicits._
    val rows = Seq(Option("good"), None, Option(""))
      .toDF("t")
      .select(VaderCompound.compound(col("t")).as("c"))
      .collect()
    assert(!rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
    assert(rows(2).getDouble(0) == 0.0)
  }

  test("SQL-callable after extension registration") {
    val c = spark.sql("SELECT vader_compound('very good day!')")
      .head().getDouble(0)
    assert(c == Vader.compound("very good day!"))
    val e = intercept[Exception] {
      spark.sql("SELECT vader_compound('a', 'b')").head()
    }
    assert(e.getMessage.contains("vader_compound"))
  }

  test("stays inside WholeStageCodegen (no UDF barrier)") {
    val p = graft.PlanShape.of(graft.Tables.documents(spark,
        SparkTestSession.Sf0001)
      .select(VaderCompound.compound(col("text")).as("c")))
    assert(p.kernels == Seq(graft.PlanShape.Kernel("VaderCompound.compound",
      inCodegen = true)), p)
  }
}
