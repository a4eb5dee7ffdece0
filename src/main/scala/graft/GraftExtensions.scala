package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProduct, PearsonPValue, RollingFingerprint, VaderCompound}

/** SparkSessionExtensions entry point for the engine's native
  * functions and optimizer rule — the registration path for custom
  * Catalyst expressions:
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

  /** (identifier, info, builder) triples — one per native function. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("pearson_pvalue"),
      new ExpressionInfo(classOf[PearsonPValue].getName, "pearson_pvalue"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"pearson_pvalue expects (r DOUBLE, n BIGINT), got ${children.size} args")
        PearsonPValue(children.head, children(1))
      }),
    (FunctionIdentifier("vader_compound"),
      new ExpressionInfo(classOf[VaderCompound].getName, "vader_compound"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"vader_compound expects (text STRING), got ${children.size} args")
        VaderCompound(children.head)
      }),
    (FunctionIdentifier("rolling_fp"),
      new ExpressionInfo(classOf[RollingFingerprint].getName, "rolling_fp"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"rolling_fp expects (text STRING), got ${children.size} args")
        RollingFingerprint(children.head)
      }),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"vec_dot expects (a ARRAY, b ARRAY), got ${children.size} args")
        DotProduct(children.head, children(1))
      }))
}
