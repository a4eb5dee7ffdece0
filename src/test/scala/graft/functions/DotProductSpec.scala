package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The vector dot-product kernel: both evaluation paths agree
  * bit-for-bit with the HOF fold it replaced (the formulation the
  * DuckDB oracle reproduces for SIM1), NULL/length contracts hold,
  * float and double element types widen identically, and the
  * kernel call stays inside whole-stage codegen.
  */
class DotProductSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The retired HOF formulation, kept VERBATIM as the anchor. */
  private def hofDot(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  test("kernel equals the HOF fold bit-for-bit on real float embeddings") {
    val emb = graft.Tables.embeddings(spark, SparkTestSession.Sf0001)
      .select(col("vec_id"), col("embedding"))
    val a = emb.alias("a"); val b = emb.alias("b")
    val rows = a.join(b, col("a.vec_id") + 1 === col("b.vec_id"))
      .select(
        DotProduct.dot(col("a.embedding"), col("b.embedding")).as("k"),
        hofDot(col("a.embedding"), col("b.embedding")).as("h"))
      .collect()
    assert(rows.nonEmpty)
    // bit-for-bit: same index-order double summation, no tolerance
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("double arrays, mixed float x double, null and length contracts") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0f, 5.0f, 6.0f))).toDF("d", "f")
    // mixed double x float widens: 1*4 + 2*5 + 3*6 = 32
    assert(df.select(DotProduct.dot(col("d"), col("f"))).head().getDouble(0)
      == 32.0)
    // length mismatch -> NULL (zip_with pads with NULL, fold propagates)
    val mism = df.select(DotProduct.dot(col("d"), slice(col("f"), 1, 2)))
      .head()
    assert(mism.isNullAt(0))
    // NULL element -> NULL, matching the HOF fold
    assert(spark.sql(
      "SELECT vec_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 1.0D))")
      .head().isNullAt(0))
    // NULL array -> NULL
    assert(spark.sql("SELECT vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))")
      .head().isNullAt(0))
    // non-numeric arrays rejected at analysis time
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(array('a'), array('b'))").head()
    }
    assert(e.getMessage.toLowerCase.contains("vec_dot"))
  }

  test("stays inside WholeStageCodegen (no UDF barrier)") {
    val p = graft.PlanShape.of(graft.Tables.embeddings(spark,
        SparkTestSession.Sf0001)
      .select(DotProduct.dot(col("embedding"), col("embedding")).as("n2")))
    assert(p.kernels == Seq(graft.PlanShape.Kernel("DotProduct.dot",
      inCodegen = true)), p)
    assert(p.count("BatchEvalPython") == 0, p)
  }
}
