package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, ObjectType}

/** Product-quantization kernels (Jégou, Douze & Schmid 2011, public
  * algorithm) behind SIM6. The encode/LUT arithmetic originally lived
  * as ~270 inlined Column expressions per row — which blew whole-stage
  * codegen past janino's 64 KB method limit and forced interpreted
  * fallback; as a static compiled kernel ([[Kernel]], the codebook a
  * literal), the generated code is ONE call per row and the stage
  * stays inside whole-stage codegen.
  *
  * Float discipline (what makes SIM6 fully oracle-checkable): every
  * sum runs in index order (while-loops ≡ DuckDB's list_sum), the
  * squared distance uses the expansion (‖x_j‖² − 2·x_j·c) + ‖c‖² in
  * exactly that association, and argmin takes the FIRST minimal code —
  * all mirrored verbatim by the SQL oracle, so codes and LUT values
  * are bit-identical across engines.
  */
object PqKernel {

  /** Immutable codebook: cb(j)(c) = the d-dim code c of subspace j;
    * ships to executors once per plan as an `ObjectType` literal. */
  final class Book(val cb: Array[Array[Array[Double]]]) extends Serializable {
    val m: Int = cb.length
    val k: Int = cb(0).length
    val d: Int = cb(0)(0).length
    /** ‖code‖² per (j, c), index-order sums. */
    val cn2: Array[Array[Double]] = cb.map(_.map { cv =>
      var s = 0.0; var i = 0
      while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
      s
    })
  }

  private def toDoubles(a: ArrayData, isFloat: Boolean): Array[Double] = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      out(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    out
  }

  /** 1-based nearest-code per subspace. */
  def encode(b: Book, x: Array[Double]): Array[Long] = {
    val codes = new Array[Long](b.m)
    var j = 0
    while (j < b.m) {
      val off = j * b.d
      var xx = 0.0
      var i = 0
      while (i < b.d) { val v = x(off + i); xx += v * v; i += 1 }
      var best = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < b.k) {
        val cv = b.cb(j)(c)
        var xc = 0.0
        i = 0
        while (i < b.d) { xc += x(off + i) * cv(i); i += 1 }
        val d2 = (xx - 2.0 * xc) + b.cn2(j)(c)
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      codes(j) = best + 1L
      j += 1
    }
    codes
  }

  /** Flat ADC lookup table: lut(j·k + c) = x_j · code(j, c). */
  def luts(b: Book, x: Array[Double]): Array[Double] = {
    val out = new Array[Double](b.m * b.k)
    var j = 0
    while (j < b.m) {
      val off = j * b.d
      var c = 0
      while (c < b.k) {
        val cv = b.cb(j)(c)
        var s = 0.0
        var i = 0
        while (i < b.d) { s += x(off + i) * cv(i); i += 1 }
        out(j * b.k + c) = s
        c += 1
      }
      j += 1
    }
    out
  }

  // The kernels: one static call per row; null element or length
  // mismatch → null result.
  def encodeArray(b: Book, a: ArrayData, isFloat: Boolean): ArrayData = {
    val x = toDoubles(a, isFloat)
    if (x == null || x.length != b.m * b.d) null
    else new GenericArrayData(encode(b, x))
  }
  def lutArray(b: Book, a: ArrayData, isFloat: Boolean): ArrayData = {
    val x = toDoubles(a, isFloat)
    if (x == null || x.length != b.m * b.d) null
    else new GenericArrayData(luts(b, x))
  }
}

object PqCodec {
  private def call(method: String, elem: DataType, book: PqKernel.Book,
                   v: Column): Column =
    Kernel.call(PqKernel, method, ArrayType(elem, containsNull = false),
      nullable = true)(
      ColumnBridge.column(Literal.fromObject(book,
        ObjectType(classOf[PqKernel.Book]))),
      v, Kernel.floatElements(v))

  /** codes(j) ∈ [1, k] per subspace — ARRAY<BIGINT> of length m. */
  def encode(book: PqKernel.Book)(v: Column): Column =
    call("encodeArray", LongType, book, v)
  /** Flat ADC LUT — ARRAY<DOUBLE> of length m·k, indexed j·k + c. */
  def luts(book: PqKernel.Book)(v: Column): Column =
    call("lutArray", DoubleType, book, v)
}
