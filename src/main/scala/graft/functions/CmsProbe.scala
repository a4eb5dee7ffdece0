package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType

/** Point-query of a serialized Spark CountMinSketch binary (A53) as a
  * native kernel ([[Kernel]]): deserialize + `estimateCount(key)` per
  * probe row. Replaces the Scala UDF it started as — same cost (the
  * probe side is a ~20-row watchlist against one broadcast ~1 MB
  * sketch), but the call stays inside whole-stage
  * codegen like every other kernel in the suite instead of paying
  * serialized-closure dispatch. NULL sketch or NULL key → NULL
  * estimate.
  *
  * Deliberately NOT cached across rows: 20 deserializations of the
  * broadcast binary are microseconds, and keeping the kernel
  * stateless keeps it a plain static call.
  */
object CmsProbe {
  /** Column-API entry point. */
  def probe(sketch: Column, key: Column): Column =
    Kernel.call(this, "probe", LongType, nullable = false)(sketch, key)

  def probe(bin: Array[Byte], key: Long): Long =
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bin)).estimateCount(key)
}
