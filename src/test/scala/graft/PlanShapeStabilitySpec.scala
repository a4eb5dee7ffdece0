package graft

import org.scalatest.funsuite.AnyFunSuite

/** A [[PlanShape]] record holds no run noise: a query built twice in
  * one JVM, with other queries built in between, gives equal records.
  * The three `Expand` queries list their grouping sets in either order
  * from one build to the next, and s2's plan scans a fresh
  * `Fs.scratch` dir on each build; their plan text differs between
  * builds, their records must not.
  */
class PlanShapeStabilitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  test("a query's record is equal across builds in one JVM") {
    val queries = Seq("a41_chi2_pvalue", "pipe4_corpus_datasheet",
      "ds20_rolling_origin", "s2_parquet_roundtrip")
    def shapes(): Seq[PlanShape] =
      queries.map(q => PlanShape.of(SparkEntry.queries(q)(spark, sf)))
    val first = shapes()
    Seq("w20_macd", "sql19_tpch_q22", "s3_partitioned_write")
      .foreach(q => PlanShape.of(SparkEntry.queries(q)(spark, sf)))
    val second = shapes()
    queries.indices.foreach(i =>
      assert(first(i) == second(i), s"${queries(i)} record moved"))
  }
}
