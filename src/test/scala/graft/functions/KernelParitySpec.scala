package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftExtensions, SparkTestSession, Tables}

/** Every native kernel's entry point gives the same rows through both
  * of `StaticInvoke`'s paths: whole-stage codegen (the default
  * session) and interpreted evaluation (`wholeStage=false` +
  * `NO_CODEGEN`, the reflective `eval` that constant folding also
  * runs). Inputs are sf0.001 fixture columns, so nothing folds away;
  * doubles compare by raw bits.
  */
class KernelParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = SparkTestSession.Sf0001

  private def docs(s: SparkSession) = Tables.documents(s, Sf)
  private def emb(s: SparkSession) = Tables.embeddings(s, Sf)
    .select(col("vec_id"), col("embedding"),
      col("embedding").cast("array<double>").as("dbl"))

  /** A fixed 16 × 16 × 4 codebook over the 64-dim embeddings. */
  private lazy val book = new PqKernel.Book(
    Array.tabulate(16, 16, 4)((j, c, i) => math.sin(j * 31 + c * 7 + i)))

  private val cases: Seq[(String, SparkSession => DataFrame)] = Seq(
    "VaderCompound.compound" -> (s => docs(s).select(col("doc_id"),
      VaderCompound.compound(col("text")),
      VaderCompound.compound(lower(col("source"))))),
    "VaderTokenScores.tokenScores" -> (s => docs(s).select(col("doc_id"),
      VaderTokenScores.tokenScores(col("text")))),
    "PearsonPValue.pValue" -> (s => Tables.events(s, Sf).select(
      col("event_id"), PearsonPValue.pValue(
        (col("value") % 2000 - 1000) / 1000.0, col("event_id") % 50))),
    "DotProduct.dot" -> (s => {
      val a = emb(s).alias("a"); val b = emb(s).alias("b")
      a.join(b, col("a.vec_id") + 1 === col("b.vec_id")).select(
        col("a.vec_id"),
        DotProduct.dot(col("a.embedding"), col("b.embedding")),
        DotProduct.dot(col("a.dbl"), col("b.embedding")),
        DotProduct.dot(col("a.dbl"), col("b.dbl")),
        DotProduct.dot(col("a.embedding"), slice(col("b.dbl"), 1, 3)))
    }),
    "RollingFingerprint.fps" -> (s => docs(s).select(col("doc_id"),
      RollingFingerprint.fps(col("text")))),
    "CdcChunks.chunks" -> (s => docs(s).select(col("doc_id"),
      CdcChunks.chunks(col("text")))),
    "CmsProbe.probe" -> (s => {
      val ev = Tables.events(s, Sf)
      val sk = ev.agg(expr("count_min_sketch(user_id, 0.01d, 0.9d, 7)").as("sk"))
      ev.select(col("user_id")).distinct().crossJoin(sk)
        .select(col("user_id"), CmsProbe.probe(col("sk"), col("user_id")))
    }),
    "PqCodec.encode/luts" -> (s => emb(s).select(col("vec_id"),
      PqCodec.encode(book)(col("embedding")),
      PqCodec.luts(book)(col("embedding")),
      PqCodec.encode(book)(col("dbl")),
      PqCodec.luts(book)(slice(col("dbl"), 1, 8)))),
    "NibbleClassCounts.counts" -> (s => docs(s).select(col("doc_id"),
      NibbleClassCounts.counts(col("text")))),
    "NibblePairCounts.counts" -> (s => docs(s).select(col("doc_id"),
      NibblePairCounts.counts(col("text")))),
    "ByteAutocorrSums.sums" -> (s => docs(s).select(col("doc_id"),
      ByteAutocorrSums.sums(col("text")))),
    "FrameByteSums.sums" -> (s => docs(s).select(col("doc_id"),
      FrameByteSums.sums(col("text"), 16, 4, squared = false),
      FrameByteSums.sums(col("text"), 8, 1, squared = true))))

  /** Row values with doubles as raw bits, so NaN, ±0 and the last ulp
    * all count. */
  private def canon(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case r: Row => r.toSeq.map(canon)
    case xs: scala.collection.Seq[_] => xs.map(canon)
    case x => x
  }

  /** The rows of `df`, canonicalized and sorted, and whether its
    * executed (final, after AQE) plan calls every kernel inside a
    * whole-stage codegen stage. */
  private def run(df: DataFrame): (Seq[String], Boolean) = {
    val rows = df.collect().toSeq.map(r => canon(r).toString).sorted
    val shape = graft.PlanShape.of(df)
    assert(shape.kernels.nonEmpty, shape)
    (rows, shape.kernels.forall(_.inCodegen))
  }

  cases.foreach { case (name, build) =>
    test(s"$name: codegen and interpreted paths give identical rows") {
      val (compiled, staged) = run(build(spark))
      val (interpreted, interpStaged) = GraftExtensions.withConfs(spark,
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run(build(spark)))
      assert(staged && !interpStaged)
      assert(compiled.nonEmpty)
      assert(compiled == interpreted)
    }
  }
}
