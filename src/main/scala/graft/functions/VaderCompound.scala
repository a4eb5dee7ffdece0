package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** The VADER compound score as a native kernel ([[Kernel]]): it stays
  * inside whole-stage codegen (the generated code calls
  * [[Vader.compound]] through [[compound]]), unlike the Scala UDF it
  * replaced, which broke the codegen pipeline with serialized-closure
  * dispatch + Row boxing per document. NULL text → NULL score (empty
  * text still scores 0.0, matching the kernel).
  *
  * Reference scorer: `scripts/03_add_sentiment.py:10,28`.
  */
object VaderCompound {
  /** Column-API entry point: VADER compound score of a text column. */
  def compound(text: Column): Column =
    Kernel.call(this, "compound", DoubleType, nullable = false)(text)

  def compound(text: UTF8String): Double = Vader.compound(text.toString)
}

/** Per-token adjusted valences ([[Vader.tokenScores]]) as a native
  * kernel — the materialized-intermediate boundary of the F7 oracle:
  * the sequential rule state (negation lookback, booster decay, the
  * "but" pivot) lives inside each entry; everything downstream of the
  * array is plain SQL a DuckDB twin replays from the parquet dump.
  * NULL text → NULL array (empty text → empty array), mirroring
  * [[VaderCompound]]'s null contract.
  */
object VaderTokenScores {
  /** Column-API entry point: per-token adjusted VADER valences. */
  def tokenScores(text: Column): Column =
    Kernel.call(this, "tokenScores",
      ArrayType(DoubleType, containsNull = false), nullable = false)(text)

  def tokenScores(text: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Vader.tokenScores(text.toString))
}
