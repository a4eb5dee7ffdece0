package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking kernel (the Rabin-style CDC every
  * dedup-friendly storage / training-data layer uses — LBFS
  * (Muthitacharoen et al. 2001) ancestry, FastCDC's motivation): cut
  * a document wherever the rolling K-gram hash lands on a content
  * boundary (h ≡ 0 mod 64, expected chunk ≈ 64 chars), so an
  * insertion early in a doc shifts ONE chunk instead of re-slicing
  * everything downstream — the property fixed-width blocks (DS3)
  * lack. No min/max clamps: every boundary is decided locally by its
  * own gram, which keeps the cut set embarrassingly parallel and
  * lets the DuckDB oracle replay it with list primitives (a greedy
  * min-length variant would be inherently sequential per doc).
  *
  * Same Rabin parameters as [[RollingFp]] (K = 8, B = 257,
  * M = 1e9+7), same normalization (space-trim + per-char lowercase —
  * exact for the ASCII corpus). Divergence boundary: the per-char
  * `Character.toLowerCase` is Unicode-aware per UTF-16 unit, so on
  * non-ASCII text (Turkish dotted I, ß, combining marks) its output
  * differs from a whole-string SQL `lower()` + `ascii()` replay —
  * which is why the d19 query/oracle pair scopes BOTH sides to the
  * `octet_length == length` (pure-ASCII) slice, where the two
  * normalizations are provably identical. Each chunk reports (start, len,
  * chash) with chash the polynomial hash of the chunk's own chars —
  * the content identity cross-doc chunk dedup keys on. Pure integer
  * arithmetic end to end → oracle-exact.
  *
  * Reference analogue: content-keyed dedup identity
  * (`scripts/02_fetch_news.py:117-120`), refined from whole-doc to
  * shift-resistant sub-document granularity. A native kernel
  * ([[Kernel]]): text → array<struct<start int, len int, chash
  * bigint>> inside whole-stage codegen. NULL text → NULL array.
  */
object CdcChunks {
  private val K = 8
  private val B = 257L
  private val M = 1000000007L
  private val Mask = 64L

  private val Type = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false),
    StructField("chash", LongType, nullable = false))),
    containsNull = false)

  /** Column-API entry point: CDC chunk rows of a text column. */
  def chunks(text: Column): Column =
    Kernel.call(this, "chunks", Type, nullable = false)(text)

  /** Chunk rows (start, len, chash) over the normalized text; start
    * is a 0-based char offset into the normalized (trimmed) text.
    * Empty normalized text → empty array, never null.
    */
  def chunks(utf8: UTF8String): ArrayData = {
    val text = utf8.toString
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) == ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
    val L = hi - lo
    if (L == 0) return new GenericArrayData(Array.empty[Any])
    val grams = L - K + 1
    // cut positions (0-based start of the NEXT chunk): p + K for every
    // gram p whose hash hits the boundary mask, excluding a cut that
    // would start an empty final chunk
    val cuts = new scala.collection.mutable.ArrayBuffer[Int]()
    var p = 0
    while (p < grams) {
      var h = 0L
      var j = 0
      while (j < K) {
        h = (h * B + Character.toLowerCase(text.charAt(lo + p + j)).toLong) % M
        j += 1
      }
      if (h % Mask == 0 && p + K < L) cuts += (p + K)
      p += 1
    }
    val bounds = (0 +: cuts :+ L).toArray
    val rows = new Array[Any](bounds.length - 1)
    var c = 0
    while (c < bounds.length - 1) {
      val s = bounds(c)
      val e = bounds(c + 1)
      var h = 0L
      var i = s
      while (i < e) {
        h = (h * B + Character.toLowerCase(text.charAt(lo + i)).toLong) % M
        i += 1
      }
      rows(c) = new GenericInternalRow(
        Array[Any](s, e - s, h)): InternalRow
      c += 1
    }
    new GenericArrayData(rows)
  }
}
