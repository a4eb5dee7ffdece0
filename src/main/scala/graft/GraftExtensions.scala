package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import graft.functions.{DotProduct, Kernel, PearsonPValue, RollingFingerprint,
  SqlFunction, VaderCompound}

/** SparkSessionExtensions entry point for the engine's native
  * functions and optimizer rule — the registration path for the SQL
  * names of the native kernels:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     ...
  * }}}
  *
  * makes them SQL-callable (`SELECT pearson_pvalue(r, n) …`) in every
  * session of the cluster. Extensions only apply when a session is
  * built, so the engine's own drivers and the test suite all build
  * through the one factory [[GraftExtensions.session]]; sessions
  * derived with `newSession()` inherit them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.PushDateTruncFilters)
  }
}

object GraftExtensions {
  /** The engine's session: `local[parallelism]` with as many shuffle
    * partitions, UTC session time, no UI, these extensions, WARN logs.
    * `getOrCreate` makes it idempotent: a second call in the same JVM
    * returns the first session. */
  def session(parallelism: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$parallelism]")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with each `key -> value` set on `s`'s session conf,
    * then restore every key's previous value (or unset it), so a
    * session shared across queries sees no conf drift. */
  def withConfs[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** A native function's SQL name, checked for arity here and for
    * argument types by [[SqlFunction]], which plans as `entry`. */
  private def sqlName(name: String, signature: String,
      accepts: (DataType => Boolean)*)(entry: Seq[Column] => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[SqlFunction].getName, name),
      (children: Seq[Expression]) => {
        require(children.size == accepts.size,
          s"$name expects $signature, got ${children.size} args")
        SqlFunction(name, signature, accepts, entry, children)
      })

  /** (identifier, info, builder) triples — one per native function. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    sqlName("pearson_pvalue", "(r DOUBLE, n BIGINT)",
      _ == DoubleType, _ == LongType)(c => PearsonPValue.pValue(c(0), c(1))),
    sqlName("vader_compound", "(text STRING)",
      _ == StringType)(c => VaderCompound.compound(c(0))),
    sqlName("rolling_fp", "(text STRING)",
      _ == StringType)(c => RollingFingerprint.fps(c(0))),
    sqlName("vec_dot", "(a ARRAY<FLOAT|DOUBLE>, b ARRAY<FLOAT|DOUBLE>)",
      Kernel.isVector, Kernel.isVector)(c => DotProduct.dot(c(0), c(1))))
}
