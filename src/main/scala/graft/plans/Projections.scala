package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** ClickHouse *projections*, Spark-native: a table can carry pre-aggregated
  * alternatives and the server transparently answers matching aggregate
  * queries from the projection instead of the base data. Here the
  * pre-aggregate is a [[graft.streaming.MatView]] partials table, and the
  * transparent part is [[RouteToProjection]] — an optimizer
  * `Rule[LogicalPlan]` (injected by [[graft.GraftExtensions]]) that
  * rewrites a matching `Aggregate` over the registered base table into a
  * re-aggregation of the partials.
  *
  * A query matches when:
  *  - its source is the registered base path, reached through at most a
  *    column-pruning Project (any Filter blocks routing — the projection
  *    cannot answer arbitrary predicates);
  *  - it groups by a subset of the projection's key columns;
  *  - every aggregate is a non-distinct `sum(value)` or `count(*)` /
  *    `count(1)` — the mergeable pair the partials carry (`sum_value`,
  *    `n`). Wrapping scalar expressions (e.g. `round(sum(x), 2)`) are
  *    fine: the inner aggregate is substituted and the wrapper moves to
  *    a Project above the rewritten Aggregate.
  *
  * At 100 TB this is the difference between rescanning the event history
  * and one hash aggregate over ~|keys| partial rows — same contract as
  * CH projections, driven by the same merge-on-read math as MatView.
  */
object Projections {

  /** One registered projection: base parquet path → partials parquet path
    * with its key columns and summed value column.
    */
  final case class ProjectionDef(
      srcPath: String,
      keys: Seq[String],
      value: String,
      mvPath: String)

  private val registry = TrieMap.empty[String, ProjectionDef]

  def register(d: ProjectionDef): Unit = registry.put(normalize(d.srcPath), d)
  def clear(): Unit = registry.clear()
  def isEmpty: Boolean = registry.isEmpty

  // `.` and `..` segments resolve first: a scan's root paths arrive
  // normalized (Hadoop's Path normalizes its URI), a registration may not
  private def normalize(p: String): String =
    new java.net.URI(p).normalize().getPath match { case null => p; case x => x }

  private[plans] def find(rootPaths: Seq[String]): Option[ProjectionDef] =
    rootPaths.flatMap(p => registry.get(normalize(p))).headOption
}

/** The routing rule. Injected unconditionally; a no-op until a
  * projection is registered.
  */
class RouteToProjection(spark: SparkSession) extends Rule[LogicalPlan] {
  import Projections._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (Projections.isEmpty) plan
    else plan.transformUp { case agg: Aggregate => tryRoute(agg).getOrElse(agg) }

  /** The base relation behind at most a column-pruning Project. */
  private def source(p: LogicalPlan): Option[LogicalRelation] = p match {
    case r: LogicalRelation => Some(r)
    case Project(pl, r: LogicalRelation) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      Some(r)
    case _ => None
  }

  private def rootPaths(rel: LogicalRelation): Seq[String] = rel.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
    case _ => Seq.empty
  }

  private def tryRoute(agg: Aggregate): Option[LogicalPlan] = for {
    rel <- source(agg.child)
    pdef <- find(rootPaths(rel))
    routed <- rewrite(agg, pdef)
  } yield routed

  private def rewrite(agg: Aggregate, pdef: ProjectionDef): Option[LogicalPlan] = {
    // grouping must be plain attributes, a subset of the projection keys
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if pdef.keys.contains(a.name) => a
      case _ => return None
    }

    val mvPlan = spark.read.parquet(pdef.mvPath).queryExecution.analyzed
    def mv(name: String): AttributeReference =
      mvPlan.output.collectFirst { case a: AttributeReference if a.name == name => a }.get

    // raw re-aggregations over the partials, shared by all outputs
    val rawSum = Alias(AggregateExpression(Sum(mv("sum_value")), Complete, isDistinct = false), "_mv_sum")()
    val rawCnt = Alias(AggregateExpression(Sum(mv("n")), Complete, isDistinct = false), "_mv_cnt")()
    var needSum = false
    var needCnt = false

    // each output: a grouping attr, or an expression whose embedded
    // aggregates are all sum(value) / count(1) — substituted with the
    // raw re-aggregation results
    val projected: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if groupAttrs.exists(_.exprId == a.exprId) =>
        Alias(mv(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(e, name) =>
        var ok = true
        val substituted = e.transformUp {
          case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case Sum(ar: AttributeReference, _) if ar.name == pdef.value =>
                needSum = true; rawSum.toAttribute
              case Count(Seq(Literal(_, _))) =>
                needCnt = true; rawCnt.toAttribute
              case _ => ok = false; ae
            }
          case ae: AggregateExpression => ok = false; ae
        }
        if (!ok || substituted.exists(_.isInstanceOf[AggregateExpression])) return None
        Alias(substituted, name)(exprId = al.exprId)
      case _ => return None
    }

    val mvGroup = groupAttrs.map(a => mv(a.name))
    val rawAggs = (if (needSum) Seq(rawSum) else Nil) ++ (if (needCnt) Seq(rawCnt) else Nil)
    val newAgg = Aggregate(mvGroup, (mvGroup: Seq[NamedExpression]) ++ rawAggs, mvPlan)
    Some(Project(projected, newAgg))
  }
}
