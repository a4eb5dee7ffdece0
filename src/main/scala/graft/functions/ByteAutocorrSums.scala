package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MM14's hot kernel: the five exact lag-1 sums (Σx, Σy, Σx², Σy², Σxy
  * over the L−1 adjacent byte pairs) plus the pair count, in ONE
  * whole-stage-codegen pass over the string's bytes (a native kernel,
  * [[Kernel]]).
  *
  * Replaces the round-11 HOF formulation (split → transform(ascii) →
  * two slices → zip_with → five interpreted `aggregate` folds): higher-
  * order functions never enter codegen and that chain walked the
  * array seven times per row while allocating six intermediates
  * (measured at sf0.1: mm14 4.3 s; this kernel ≈ the cost of the scan).
  *
  * Semantics are preserved exactly. The query scopes rows to ASCII
  * (octet_length == length), where `ascii(char)` IS the byte value, so
  * summing raw bytes is bit-identical to the codepoint sums the DuckDB
  * oracle replays; every sum is an exact BIGINT (bytes ≤ 127, lengths
  * ≪ 2²⁶, so Σx² < 2⁴⁰ — no overflow anywhere near 2⁶³). Totality: the
  * expression never throws on rows the upstream filter later drops
  * (np = numBytes − 1 may be ≤ 0 → all sums 0), mirroring the HOF
  * form's greatest(np, 0) clamp.
  */
object ByteAutocorrSums {
  /** Column-API entry point: struct(np, sx, sy, sxx, syy, sxy) of the
    * lag-1 byte-pair sums of a string column. */
  def sums(text: Column): Column =
    Kernel.call(this, "sums", StructType(
      Seq("np", "sx", "sy", "sxx", "syy", "sxy")
        .map(StructField(_, LongType, nullable = false))),
      nullable = false)(text)

  def sums(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val n = bytes.length
    var sx = 0L; var sy = 0L; var sxx = 0L; var syy = 0L; var sxy = 0L
    var i = 1
    while (i < n) {
      val x = (bytes(i - 1) & 0xff).toLong
      val y = (bytes(i) & 0xff).toLong
      sx += x; sy += y; sxx += x * x; syy += y * y; sxy += x * y
      i += 1
    }
    new GenericInternalRow(Array[Any](
      (n - 1).toLong, sx, sy, sxx, syy, sxy))
  }
}
