package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** MM10/MM11's hot kernel: per-frame byte sums (or square sums) over a
  * string's UTF-8 bytes — frame k covers bytes [k·F, (k+1)·F), complete
  * frames only, sampled every `stride`-th frame — in ONE whole-stage-
  * codegen pass with zero string expansion.
  *
  * Replaces the hex / codepoint-array scan stacks (the MM8 kernel
  * argument, round 14): MM10's form hex-expanded the payload to 2L
  * chars and re-parsed a radix-16 pair per byte through conv(substr)
  * (substr walks from the string head — O(L²) per doc); MM11's form
  * materialized a per-codepoint STRING array via split("") and folded
  * interpreted HOF slices over it. Both recompute what one relative
  * byte loop reads directly.
  *
  * Semantics are preserved exactly, for ANY input: the declared
  * operation on both queries is BYTE-level (the oracle replays
  * hex-pair arithmetic over encode(text)), and `getBytes` IS the
  * UTF-8 encoding — no ASCII assumption anywhere (MM11's ascii()
  * reads needed its pure-ASCII guard; raw bytes need none, though the
  * query keeps the guard as its declared row scope). Sums are exact
  * BIGINTs (byte ≤ 255, F = 16 ⇒ frame sum < 2¹², square sum < 2²⁰).
  * Totality: fewer than F bytes → empty array (the upstream
  * octet_length filter drops those rows anyway), NULL → NULL.
  * Element i of the result belongs to frame i·stride. A native kernel
  * ([[Kernel]]); frameBytes, stride and squared ride as literals.
  */
object FrameByteSums {
  /** Column-API entry point: sampled per-frame byte sums of a text
    * column's UTF-8 bytes (square sums when `squared`). */
  def sums(text: Column, frameBytes: Int, stride: Int,
           squared: Boolean): Column = {
    require(frameBytes > 0 && stride > 0,
      s"frameBytes/stride must be positive, got $frameBytes/$stride")
    Kernel.call(this, "sums", ArrayType(LongType, containsNull = false),
      nullable = false)(text, lit(frameBytes), lit(stride), lit(squared))
  }

  def sums(text: UTF8String, frameBytes: Int, stride: Int,
           squared: Boolean): ArrayData = {
    val bytes = text.getBytes
    val nFrames = bytes.length / frameBytes
    val nSampled = if (nFrames <= 0) 0 else (nFrames + stride - 1) / stride
    val out = new Array[Any](nSampled)
    var k = 0
    var o = 0
    while (k < nFrames) {
      var s = 0L
      var i = k * frameBytes
      val e = i + frameBytes
      while (i < e) {
        val b = (bytes(i) & 0xff).toLong
        s += (if (squared) b * b else b)
        i += 1
      }
      out(o) = s
      o += 1
      k += stride
    }
    new GenericArrayData(out)
  }
}
