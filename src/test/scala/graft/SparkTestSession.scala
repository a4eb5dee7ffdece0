package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM, built
  * by the drivers' factory (so it carries [[GraftExtensions]]: the
  * native SQL functions and the date_trunc pushdown rule). Small
  * parallelism keeps suite wall-clock low; tests that need the
  * harness tables read /root/testdata/sf0.001 (read-only).
  */
object SparkTestSession {
  val Sf0001 = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = GraftExtensions.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** splitmix64 mixing step — the deterministic stand-in for an RNG in
    * fixture corpora (word picks are uncorrelated across ids, so two
    * docs only share text when a test plants it). One definition so
    * fixture generators across suites can't drift. */
  def splitmix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** A fresh dir for a tiny fixture table, under the JVM's scratch
    * root ([[Fs.scratch]]) so it is deleted at exit with its files;
    * usable as the `d` argument of any query. */
  def fixtureDir(prefix: String): String = Fs.scratch(prefix)
}
