package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProduct, PearsonPValue, RollingFingerprint, VaderCompound}

/** SparkSessionExtensions entry point for the engine's native
  * functions — the registration path for custom Catalyst expressions:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     ...
  * }}}
  *
  * makes them SQL-callable (`SELECT pearson_pvalue(r, n) …`) in every
  * session of the cluster. For an already-built session (notebooks,
  * the shared test session) use
  * [[org.apache.spark.sql.graftbridge.ColumnBridge.registerFunctions]]
  * which applies the same injections to the live registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.PushDateTruncFilters)
  }
}

object GraftExtensions {
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
