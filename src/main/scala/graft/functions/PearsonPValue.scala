package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DoubleType

/** The Pearson-r p-value as a native kernel ([[Kernel]]): it stays
  * inside whole-stage codegen (the generated code calls [[pValue]] on
  * primitive doubles), unlike a Scala UDF which breaks the codegen
  * pipeline with boxing + serialized-closure dispatch per row.
  * Null-safe: NULL in → NULL out, and NaN from [[StudentT.pValue]]
  * (r or n invalid) surfaces as NULL so the result stays
  * comparable/sortable under SQL semantics.
  *
  * Inputs: r DOUBLE, n BIGINT (as produced by `corr`/`count`).
  */
object PearsonPValue {
  /** Column-API entry point: p-value of a correlation column given an
    * observation-count column. */
  def pValue(r: Column, n: Column): Column =
    Kernel.call(this, "pValue", DoubleType, nullable = true)(r, n)

  def pValue(r: Double, n: Long): java.lang.Double = {
    val p = StudentT.pValue(r, n)
    if (p.isNaN) null else java.lang.Double.valueOf(p)
  }
}
