package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Dot product of two numeric array columns as a native kernel
  * ([[Kernel]]) — the hot kernel of every similarity operator
  * (SIM1–SIM3 cosines, D5 near-dup, all vector norms). Replaces the
  * `aggregate(zip_with(a, b, _*_), 0, +)` higher-order-function
  * formulation, which never enters codegen and allocates an
  * intermediate array per row; semantics are preserved exactly —
  * index-order summation of per-element double products, so results
  * are bit-identical to the HOF fold (and to the DuckDB oracle that
  * checks SIM1):
  *  - FLOAT or DOUBLE element types on either side (floats widen; the
  *    element types ride as literal flags);
  *  - length mismatch → NULL (zip_with pads with NULL, which the fold
  *    then propagates);
  *  - NULL element on either side → NULL (same propagation).
  * SQL name `vec_dot`.
  */
object DotProduct {
  /** Column-API entry point: Σ aᵢ·bᵢ of two vector columns. */
  def dot(a: Column, b: Column): Column =
    Kernel.call(this, "dot", DoubleType, nullable = true)(
      a, b, Kernel.floatElements(a), Kernel.floatElements(b))

  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean,
          bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      sum += x * y
      i += 1
    }
    java.lang.Double.valueOf(sum)
  }
}
