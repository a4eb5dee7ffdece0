package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import graft.SparkTestSession

/** The CDC kernel: chunks tile the normalized text exactly, every
  * interior cut sits on a mod-64 gram boundary, chunk hashes equal an
  * independent polynomial recompute, the boundary set is
  * SHIFT-RESISTANT (the property that justifies CDC over fixed-width
  * blocks), and the kernel call stays inside whole-stage codegen.
  */
class CdcChunksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The entry point's expression evaluated interpreted on a literal. */
  private def interpret(text: String): Any =
    ColumnBridge.expression(CdcChunks.chunks(
      ColumnBridge.column(Literal.create(text, StringType)))).eval(null)

  private def chunksOf(text: String): Seq[(Int, Int, Long)] = {
    val arr = interpret(text).asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 3)
      (r.getInt(0), r.getInt(1), r.getLong(2))
    }
  }

  /** Independent polynomial hash, deliberately not the kernel. */
  private def poly(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 257L + c.toLong) % 1000000007L)

  test("chunks tile the text; cuts sit on mod-64 gram boundaries; hashes match") {
    val docs = graft.Tables.documents(spark, SparkTestSession.Sf0001)
      .select(col("text")).limit(20).collect().map(_.getString(0))
    assert(docs.nonEmpty)
    var sawMultiChunk = false
    docs.foreach { text =>
      val t = text.trim.toLowerCase
      val cs = chunksOf(text)
      // exact tiling: starts contiguous from 0, lengths sum to |t|
      assert(cs.head._1 == 0 && cs.map(_._2).sum == t.length)
      cs.sliding(2).foreach {
        case Seq((s1, l1, _), (s2, _, _)) => assert(s1 + l1 == s2)
        case _ =>
      }
      // every interior cut c is content-decided: gram [c-8, c) ≡ 0 (64)
      cs.drop(1).foreach { case (s, _, _) =>
        assert(poly(t.substring(s - 8, s)) % 64 == 0, s"cut $s not content")
      }
      // chunk identity is the chunk's own polynomial hash
      cs.foreach { case (s, l, h) =>
        assert(h == poly(t.substring(s, s + l)), s"chunk @$s hash")
      }
      if (cs.length > 1) sawMultiChunk = true
    }
    assert(sawMultiChunk, "vacuous: no doc produced multiple chunks")
  }

  test("shift resistance: a prefix insertion preserves downstream chunks") {
    val base = graft.Tables.documents(spark, SparkTestSession.Sf0001)
      .select(col("text")).limit(5).collect().map(_.getString(0))
      .maxBy(_.length)
    val shifted = "zq inserted preamble " + base
    val a = chunksOf(base).map(_._3)
    val b = chunksOf(shifted).map(_._3).toSet
    // all but the first chunk(s) of the original survive verbatim in
    // the shifted doc — fixed-width blocks would preserve none
    val preserved = a.count(b.contains)
    assert(a.length > 2, "need a multi-chunk doc for the property")
    assert(preserved >= a.length - 2,
      s"only $preserved/${a.length} chunks survived a prefix insertion")
  }

  test("empty/short/NULL inputs follow the contract; codegen stays whole-stage") {
    assert(chunksOf("").isEmpty && chunksOf("   ").isEmpty)
    // shorter than one gram: a single chunk covering the whole text
    assert(chunksOf("abc") == Seq((0, 3, poly("abc"))))
    assert(interpret(null) == null)
    // non-foldable input: a parquet-scanned column (literals and
    // local relations constant-fold before codegen)
    val df = graft.Tables.documents(spark, SparkTestSession.Sf0001)
      .filter(col("doc_id") === 0)
      .select(col("text"), CdcChunks.chunks(col("text")).as("c"))
    val p = graft.PlanShape.of(df)
    assert(p.kernels == Seq(graft.PlanShape.Kernel("CdcChunks.chunks",
      inCodegen = true)), p)
    val row = df.head()
    assert(row.getSeq[org.apache.spark.sql.Row](1).length ==
      chunksOf(row.getString(0)).length)
  }
}
