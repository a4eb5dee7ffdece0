package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MM15's pair-count kernel: the per-document lag-1 high-nibble class
  * pair histogram in one compiled pass over the string's UTF-8 bytes.
  *
  * Replaces the per-BYTE relational expansion (hex → regexp_replace →
  * split to a char array → two slices → interpreted zip_with+concat →
  * explode of one row per byte → hash agg): the class-pair alphabet is
  * only 16×16, so the whole (pair, count) table fits in one in-row
  * fold and the explode shrinks from |bytes| rows to ≤256 non-zero
  * cells per doc — nothing about the downstream entropy arithmetic
  * changes.
  *
  * Exactness contract: a byte's class is its HIGH nibble rendered as
  * the uppercase hex char (exactly the first hex digit `hex(encode(
  * text, 'UTF-8'))` emits per byte — the `regexp_replace(hex, "(.).",
  * "$1")` form this kernel replaces); a pair is the 2-char
  * concatenation for consecutive bytes; counts are exact longs; cells
  * emit in ascending pair order with zero cells omitted (explode
  * order is irrelevant downstream — the consumer hash-aggregates).
  * Total on any input: fewer than 2 bytes → empty array (the explode
  * then drops the row, exactly as the per-byte form produced no
  * pairs). A native kernel ([[Kernel]]).
  */
object NibblePairCounts {
  private val Hex = "0123456789ABCDEF".toCharArray

  /** Column-API entry point: non-zero (pair, count) cells of the lag-1
    * high-nibble pair histogram of a string column. */
  def counts(text: Column): Column =
    Kernel.call(this, "counts", ArrayType(StructType(Seq(
      StructField("pair", StringType, nullable = false),
      StructField("c", LongType, nullable = false))),
      containsNull = false), nullable = false)(text)

  def counts(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val counts = new Array[Long](256)
    var i = 1
    while (i < bytes.length) {
      val a = (bytes(i - 1) >>> 4) & 0xf
      val b = (bytes(i) >>> 4) & 0xf
      counts(a * 16 + b) += 1L
      i += 1
    }
    val rows = Array.newBuilder[Any]
    var c = 0
    while (c < 256) {
      if (counts(c) > 0) {
        val s = new String(Array(Hex(c >> 4), Hex(c & 0xf)))
        rows += new GenericInternalRow(
          Array[Any](UTF8String.fromString(s), counts(c)))
      }
      c += 1
    }
    new GenericArrayData(rows.result())
  }
}
