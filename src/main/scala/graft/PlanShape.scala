package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter,
  ReusedSubqueryExec, ScalarSubquery, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExecBase

/** The shape of one physical plan as a typed record, built by walking
  * its nodes (adaptive plans, query stages and subqueries included):
  * what the plan specs assert and what `scripts/plan_diff.py` compares
  * between two `graft.PlanDump` runs. Every list is sorted, and so are
  * the keys whose order carries no meaning (hash and window partition
  * keys, join key pairs): the planner may list a grouping set's columns
  * in either order from one build to the next. No field carries an
  * expression id, object hash, RDD id or scratch path, so two builds of
  * one plan give equal records. An adaptive plan that has not run shows
  * its initial plan, with no codegen stages and no reused exchanges
  * yet; run it first (`df.collect()`) to record the final plan.
  */
case class PlanShape(
    operators: Map[String, Int],
    exchanges: Seq[PlanShape.Exchange],
    reusedExchanges: Int,
    joins: Seq[PlanShape.Join],
    scans: Seq[PlanShape.Scan],
    windows: Seq[PlanShape.Window],
    aggregates: Seq[PlanShape.Aggregate],
    scalarSubqueries: Int,
    reusedSubqueries: Int,
    codegenStages: Int,
    kernels: Seq[PlanShape.Kernel]) {

  /** Nodes named `op` (`nodeName`, e.g. `Window`, `Expand`, `UnionLoop`). */
  def count(op: String): Int = operators.getOrElse(op, 0)

  /** Joins planned with `strategy`: BHJ, SHJ, SMJ, BNLJ or Cartesian. */
  def joins(strategy: String): Seq[PlanShape.Join] =
    joins.filter(_.strategy == strategy)

  /** Exchanges of one `kind`: hash, range, single, round-robin,
    * broadcast or other. */
  def exchanges(kind: String): Seq[PlanShape.Exchange] =
    exchanges.filter(_.kind == kind)
}

object PlanShape {
  case class Exchange(kind: String, keys: Seq[String])
  case class Join(strategy: String, joinType: String,
    leftKeys: Seq[String], rightKeys: Seq[String], skew: Boolean)
  /** `table`: the scanned file or dir name; a `graft.Fs.scratch` dir
    * (`<tag>-<n>` under a JVM's `graft-<n>` root) is named by its tag. */
  case class Scan(table: String, columns: Seq[String],
    pushedFilters: Seq[String], partitionFilters: Seq[String])
  case class Window(partitionKeys: Seq[String], orderKeys: Seq[String],
    expressions: Int)
  /** `mode`: partial, partialmerge, final or complete. */
  case class Aggregate(mode: String, functions: Seq[String])
  /** `call`: `Object.method` of a `graft` kernel. */
  case class Kernel(call: String, inCodegen: Boolean)

  def of(df: DataFrame): PlanShape = of(df.queryExecution.executedPlan)

  def of(plan: SparkPlan): PlanShape = {
    val nodes = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(plan) { case p => p }
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    val codegen = nodes.collect { case w: WholeStageCodegenExec => w }
    val inCodegen = codegen.flatMap(w => stage(w.child))
    val exprs = nodes.flatMap(p => p.expressions.map(p -> _))
    def sorted[T](xs: Seq[T]): Seq[T] = xs.sortBy(_.toString)
    PlanShape(
      operators = nodes.groupMapReduce {
        case _: WholeStageCodegenExec => "WholeStageCodegen" // no stage id
        case _: BatchScanExec => "BatchScan" // no table location
        case p => p.nodeName.trim
      }(_ => 1)(_ + _),
      exchanges = sorted(nodes.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning =>
            Exchange("hash", h.expressions.map(render).sorted)
          case r: RangePartitioning => Exchange("range", r.ordering.map(render))
          case SinglePartition => Exchange("single", Nil)
          case _: RoundRobinPartitioning => Exchange("round-robin", Nil)
          case _ => Exchange("other", Nil)
        }
        case b: BroadcastExchangeExec => Exchange("broadcast", b.mode match {
          case h: HashedRelationBroadcastMode => h.key.map(k => render(k
            .transform { case r: BoundReference => b.child.output(r.ordinal) }))
            .sorted
          case _ => Nil
        })
      }),
      reusedExchanges = nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      joins = sorted(nodes.collect { case j: BaseJoinExec =>
        val (strategy, skew) = j match {
          case _: BroadcastHashJoinExec => ("BHJ", false)
          case s: ShuffledHashJoinExec => ("SHJ", s.isSkewJoin)
          case s: SortMergeJoinExec => ("SMJ", s.isSkewJoin)
          case _: BroadcastNestedLoopJoinExec => ("BNLJ", false)
          case _: CartesianProductExec => ("Cartesian", false)
          case other => (other.nodeName, false)
        }
        val (left, right) =
          j.leftKeys.map(render).zip(j.rightKeys.map(render)).sorted.unzip
        Join(strategy, j.joinType.getClass.getSimpleName.stripSuffix("$"),
          left, right, skew)
      }),
      scans = sorted(nodes.collect { case s: FileSourceScanExec =>
        Scan(s.relation.location.rootPaths.map(table).sorted.mkString(","),
          s.requiredSchema.fieldNames.toSeq, pushedFilters(s),
          s.partitionFilters.map(render))
      }),
      windows = sorted(nodes.collect { case w: WindowExecBase =>
        Window(w.partitionSpec.map(render).sorted, w.orderSpec.map(render),
          w.windowExpression.size)
      }),
      aggregates = sorted(nodes.collect { case a: BaseAggregateExec =>
        val modes = a.aggregateExpressions.map(_.mode.toString.toLowerCase)
        val mode = if (modes.nonEmpty) modes.distinct.sorted.mkString("+")
          else if (a.requiredChildDistributionExpressions.isEmpty) "partial"
          else "final" // a grouping-only (distinct) aggregate
        Aggregate(mode, a.aggregateExpressions.map(
          _.aggregateFunction.prettyName.stripSuffix("$")).sorted)
      }),
      scalarSubqueries =
        exprs.map(_._2.collect { case s: ScalarSubquery => s }.size).sum,
      reusedSubqueries = nodes.count(_.isInstanceOf[ReusedSubqueryExec]),
      codegenStages = codegen.size,
      kernels = sorted(exprs.flatMap { case (p, e) => e.collect {
        case s: StaticInvoke if s.staticObject.getName.startsWith("graft.") =>
          Kernel(s.staticObject.getSimpleName.stripSuffix("$") + "." +
            s.functionName, inCodegen.exists(_ eq p))
      }}))
  }

  /** The data source filters a scan hands its reader, from Spark's own
    * translation (a protected field in Scala; its JVM accessor is
    * public). A scalar subquery, whose value is only known once it has
    * run, stands as the literal `scalar-subquery`. */
  private def pushedFilters(s: FileSourceScanExec): Seq[String] = {
    val scan = s.copy(dataFilters = s.dataFilters.map(_.transform {
      case _: ScalarSubquery => Literal("scalar-subquery") }))
    classOf[FileSourceScanExec].getMethod("pushedDownFilters").invoke(scan)
      .asInstanceOf[Seq[org.apache.spark.sql.sources.Filter]].map(_.toString)
  }

  /** An expression as SQL text, without qualifiers or expression ids;
    * Spark names a distinct aggregate's input column after its
    * expression text, ids included. */
  private def render(e: Expression): String = e.transform {
    case a: AttributeReference =>
      a.withQualifier(Nil).withName(a.name.replaceAll("#\\d+", ""))
  }.sql

  private def table(p: Path): String =
    if (Option(p.getParent).exists(_.getName.matches("graft-\\d+")))
      p.getName.replaceFirst("-\\d+$", "")
    else p.getName
}
