package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dumps

/** The session schema catalog (`Tables.parquet`): a warm load launches
  * no footer-reading job, a schema is served until `invalidate`, the
  * key follows the NTZ inference conf, and sessions never share
  * entries. Every call still scans the files.
  */
class SchemaCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Tag = "graft.test.catalog"
  private val runs = new AtomicInteger()

  /** Spark jobs that `body` launches on this thread. A marker job run
    * after `body` is the barrier: the listener bus delivers in order,
    * so once the marker arrives every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"t${runs.incrementAndGet()}"
    val barrier = s"$tag-barrier"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, tag)
      body
      sc.setLocalProperty(Tag, barrier)
      spark.range(1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(barrier) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(barrier), "listener never saw the barrier job")
      seen.asScala.count(_ == tag)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** A fresh dir holding table `t` with columns (a BIGINT, b STRING). */
  private def fixture(prefix: String): String = {
    import spark.implicits._
    val d = SparkTestSession.fixtureDir(prefix)
    Seq((1L, "x"), (2L, "y")).toDF("a", "b")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    d
  }

  test("a warm table load and a warm dump read-back launch no job") {
    val d = fixture("catalog-warm")
    assert(jobsOf(Tables.table(spark, d, "t")) >= 1,
      "the cold load should infer the schema in a job")
    assert(jobsOf(Tables.table(spark, d, "t")) == 0)

    val p = Dumps.path("catalog_spec", d)
    try {
      def dumped = Dumps.writeOnce(spark, p)(Tables.table(spark, d, "t"))
      assert(jobsOf(dumped) >= 1, "the first read-back should write and infer")
      assert(jobsOf(dumped) == 0)
      assert(dumped.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    } finally Fs.deleteRecursively(new java.io.File(p))
  }

  test("a rewritten file keeps its cached schema until invalidate") {
    import spark.implicits._
    val d = fixture("catalog-rewrite")
    assert(Tables.table(spark, d, "t").columns.toSeq == Seq("a", "b"))
    Seq((3L, 0.5), (4L, 1.5), (5L, 2.5)).toDF("a", "c")
      .write.mode("overwrite").parquet(s"$d/t.parquet")

    // schemas are cached, results are not: the old schema still reads
    // the new rows (b is absent from the new file, so it reads NULL)
    val stale = Tables.table(spark, d, "t")
    assert(stale.columns.toSeq == Seq("a", "b"))
    assert(stale.select("a").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L, 5L))
    assert(stale.filter($"b".isNotNull).count() == 0)

    Tables.invalidate(spark, d)
    val fresh = Tables.table(spark, d, "t")
    assert(fresh.columns.toSeq == Seq("a", "c"))
    assert(fresh.select("c").collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(0.5, 1.5, 2.5))
  }

  test("events reads the ts type its NTZ inference conf asks for") {
    // own session: the conf flips stay out of the shared one
    val s = spark.newSession()
    val sf = SparkTestSession.Sf0001
    val NtzConf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def tsType(load: SparkSession => org.apache.spark.sql.DataFrame) =
      load(s).schema("ts").dataType
    s.conf.set(NtzConf, "true")
    assert(tsType(Tables.table(_, sf, "events")) == TimestampNTZType)
    assert(tsType(Tables.events(_, sf)) == TimestampType) // flips to false
    assert(tsType(Tables.table(_, sf, "events")) == TimestampType)
    s.conf.set(NtzConf, "true")
    assert(tsType(Tables.table(_, sf, "events")) == TimestampNTZType)
  }

  test("catalog entries are per session: a new session infers again") {
    val d = fixture("catalog-session")
    Tables.table(spark, d, "t")
    assert(jobsOf(Tables.table(spark, d, "t")) == 0)
    val other = spark.newSession()
    assert(jobsOf(Tables.table(other, d, "t")) >= 1)
    assert(jobsOf(Tables.table(other, d, "t")) == 0)
  }
}
