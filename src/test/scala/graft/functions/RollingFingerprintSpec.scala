package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import graft.SparkTestSession

/** The winnowing kernel: both evaluation paths (interpreted
  * reflective eval and janino codegen) agree with an independent Scala
  * recomputation of Schleimer et al.'s scheme, NULL/short inputs follow
  * the documented contract, and the expression stays inside
  * whole-stage codegen (the reason it replaced the HOF formulation).
  */
class RollingFingerprintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Independent recomputation: Rabin–Karp over K=8 grams of
    * lower(trim(text)) mod 1e9+7, min of each W=4 window. Mirrors
    * TextAnalysisSpec.winnow — deliberately NOT calling RollingFp. */
  private def winnow(text: String): Seq[Long] = {
    val t = text.trim.toLowerCase
    val hashes = (0 to t.length - 8).map { p =>
      t.substring(p, p + 8).foldLeft(0L)((h, c) => (h * 257L + c.toLong) % 1000000007L)
    }
    (0 to hashes.length - 4).map(i => hashes.slice(i, i + 4).min)
  }

  private val texts = Seq(
    "The quick brown fox jumps over the lazy dog",
    "  MiXeD Case With   Leading spaces  ",
    "abcdefghijk",                       // exactly K+W-1 → one window
    "aaaaaaaaaaaaaaaaaaaaaa")            // degenerate: all grams equal

  /** The entry point's expression evaluated interpreted on a literal. */
  private def interpret(text: String): Any =
    ColumnBridge.expression(RollingFingerprint.fps(
      ColumnBridge.column(Literal.create(text, StringType)))).eval(null)

  test("interpreted path (eval) matches independent winnow") {
    texts.foreach { t =>
      val got = interpret(t).asInstanceOf[ArrayData].toLongArray.toSeq
      assert(got == winnow(t), s"text: '$t'")
    }
  }

  test("interpreted path: NULL → NULL, short text → empty array") {
    assert(interpret(null) == null)
    val short = interpret("tiny").asInstanceOf[ArrayData]
    assert(short.numElements() == 0)
  }

  test("codegen path (through a DataFrame) matches independent winnow") {
    import spark.implicits._
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), RollingFingerprint.fps(col("text")).as("fps"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(rows(i.toLong) == winnow(t), s"text: '$t'")
    }
  }

  test("SQL-callable after extension registration") {
    val got = spark.sql("SELECT rolling_fp('abcdefghijk')")
      .head().getSeq[Long](0)
    assert(got == winnow("abcdefghijk"))
    val e = intercept[Exception] {
      spark.sql("SELECT rolling_fp('a', 'b')").head()
    }
    assert(e.getMessage.contains("rolling_fp"))
  }

  test("stays inside WholeStageCodegen (no UDF barrier)") {
    val p = graft.PlanShape.of(graft.Tables.documents(spark,
        SparkTestSession.Sf0001)
      .select(RollingFingerprint.fps(col("text")).as("fps")))
    assert(p.kernels == Seq(graft.PlanShape.Kernel("RollingFingerprint.fps",
      inCodegen = true)), p)
    assert(p.count("BatchEvalPython") == 0, p)
  }
}
