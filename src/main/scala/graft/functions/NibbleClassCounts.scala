package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** MM8/MM13's byte-class histogram kernel: the 16-slot high-nibble
  * class counts of a string's UTF-8 bytes in one compiled pass.
  *
  * Replaces the relational scan stack (hex(encode(text)) →
  * regexp_replace("(.).", "$1") to keep the high-nibble chars → 16
  * separate `length(hs) - length(replace(hs, c, ''))` full-string
  * scans, i.e. ~18 passes and two O(2L) temporary strings per row)
  * with a single O(L) loop over the raw bytes.
  *
  * Exactness contract: slot i (0..15) holds the exact count of bytes
  * whose high nibble is i — the same quantity the replace()-scan form
  * counts for hex char "0123456789ABCDEF"(i), in the same index
  * order. Counts are exact longs; the 16-element array is always
  * dense (zero slots included) so MM13's positional fold reads
  * identically and MM8's `filter(x > 0)` reproduces its non-zero
  * list in the same order. Empty input → all-zero array (callers
  * filter octet_length > 0 first, as before). A native kernel
  * ([[Kernel]]).
  */
object NibbleClassCounts {
  /** Column-API entry point: dense 16-slot high-nibble class counts
    * (index order 0x0..0xF) of a string column's UTF-8 bytes. */
  def counts(text: Column): Column =
    Kernel.call(this, "counts", ArrayType(LongType, containsNull = false),
      nullable = false)(text)

  def counts(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val counts = new Array[Long](16)
    var i = 0
    while (i < bytes.length) {
      counts((bytes(i) >>> 4) & 0xf) += 1L
      i += 1
    }
    new GenericArrayData(counts)
  }
}
