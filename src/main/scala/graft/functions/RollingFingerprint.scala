package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document-fingerprint kernel (Schleimer, Wilkerson &
  * Aiken 2003, "Winnowing: Local Algorithms for Document
  * Fingerprinting"): Rabin–Karp polynomial hashes over K-char grams,
  * then the minimum hash of each W-hash window. One native O(len·K)
  * pass per document — the higher-order-function formulation it
  * replaces cost ~1.2 ms/doc in interpreted eval (HOFs never enter
  * codegen) and dominated the whole benchmark.
  *
  * Reference analogue: content-keyed dedup identity
  * (`scripts/02_fetch_news.py:117-120`), localized from a whole-doc
  * hash to overlap-detecting local fingerprints.
  */
object RollingFp {
  val K = 8
  val W = 4
  private val B = 257L
  private val M = 1000000007L

  /** Fingerprints of lower(trim(text)). Trim is SQL semantics (spaces
    * only, unlike Java's control-char trim); lowercase is per-char,
    * exact for the ASCII corpus this engine fingerprints. Total
    * function: input shorter than K+W-1 normalized chars yields an
    * EMPTY array, never null, so non-null input → non-null output and
    * the caller's length filter alone decides row membership.
    */
  def fps(text: String): Array[Long] = {
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) == ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
    val grams = (hi - lo) - K + 1
    val wins = grams - W + 1
    if (wins <= 0) return Array.emptyLongArray
    val hashes = new Array[Long](grams)
    var p = 0
    while (p < grams) {
      var h = 0L
      var j = 0
      while (j < K) {
        h = (h * B + Character.toLowerCase(text.charAt(lo + p + j)).toLong) % M
        j += 1
      }
      hashes(p) = h
      p += 1
    }
    val out = new Array[Long](wins)
    var i = 0
    while (i < wins) {
      var m = hashes(i)
      var j = 1
      while (j < W) {
        if (hashes(i + j) < m) m = hashes(i + j)
        j += 1
      }
      out(i) = m
      i += 1
    }
    out
  }
}

/** Winnowed fingerprints ([[RollingFp.fps]]) as a native kernel
  * ([[Kernel]]): text → array<bigint> inside whole-stage codegen.
  * NULL text → NULL array; short text → empty array (kernel contract).
  */
object RollingFingerprint {
  /** Column-API entry point: winnowed fingerprint array of a text column. */
  def fps(text: Column): Column =
    Kernel.call(this, "fps", ArrayType(LongType, containsNull = false),
      nullable = false)(text)

  def fps(text: UTF8String): ArrayData =
    new GenericArrayData(RollingFp.fps(text.toString))
}
