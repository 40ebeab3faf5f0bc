package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** ClickHouse lets `WHERE` (and `PREWHERE`, which the text shim folds
  * into `WHERE`) reference SELECT-list aliases — `SELECT x+1 AS s FROM t
  * WHERE s > 3` is everyday CH (expression aliases substitute throughout
  * the query, ClickHouse SQL reference "Expression Aliases"; reference
  * users ship such text verbatim through `clickhouse-arrow/src/client.rs:643
  * query_raw`). Spark evaluates `WHERE` below the projection, so the same
  * text fails analysis with UNRESOLVED_COLUMN — and because the
  * unresolved Filter blocks the Project above it, NOTHING in the shape
  * ever resolves, so a substitution-style fix can't wait for resolved
  * alias bodies.
  *
  * Instead the rule restructures the still-unresolved shape the moment
  * the filter's child is resolved (so the child's real columns are
  * known):
  *
  *   Project(list, Filter(cond, child))
  *     → Project(list′, Filter(cond, Project(child.output ++ moved, child)))
  *
  * where `moved` are the aliases `cond` references that do NOT name a
  * real child column, and `list′` replaces each moved alias with a
  * by-name reference. The analyzer then resolves everything normally —
  * including type coercion over the rebuilt comparison. The alias is
  * computed ONCE, below the filter (CH substitutes the text, so a
  * nondeterministic alias evaluates twice there; evaluating once is the
  * saner reading and is what a user means by `rand() AS r WHERE r < 0.5`).
  *
  * Safety rails:
  *   - a real child column always wins over a same-named alias
  *     (deviation from CH's `prefer_column_name_to_alias = 0` default,
  *     whose alias-shadows-column behavior is a famous footgun; a valid
  *     Spark query's meaning never changes because rewriting requires a
  *     name that does NOT resolve against the child);
  *   - ambiguous alias names (two `AS x`) are left unresolved → the
  *     standard analyzer error;
  *   - alias bodies that contain window expressions or builtin aggregate
  *     spellings (`sum`, `max_by`, … — classes under
  *     `expressions.aggregate`, looked up in the builtin registry) are
  *     never moved below the filter: aggregates are illegal in WHERE and
  *     must keep failing with the standard error;
  *   - under `Aggregate` (a grouped query), only FUNCTION-FREE alias
  *     bodies are inlined by direct textual substitution (`k % 2 AS
  *     bucket … WHERE bucket = 1` — the body is resolved against the
  *     child by hand); grouped shapes can't be restructured without
  *     re-deriving the grouping expressions.
  */
class AliasInWhereRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def resolver = session.sessionState.conf.resolver

  /** Single-part names referenced by `cond` that do not resolve against
    * the child's output. */
  private def unresolvableNames(cond: Expression, childOut: Seq[Attribute]): Seq[String] = {
    val names = cond.collect {
      case u: UnresolvedAttribute if u.nameParts.length == 1 => u.nameParts.head
    }
    names.filterNot(n => childOut.exists(a => resolver(a.name, n))).distinct
  }

  /** True when the body must never move below a WHERE: window calls, or
    * a function the builtin registry knows as an aggregate. (Injected
    * dialect spellings like `countIf` aren't in the builtin registry —
    * those fall through and fail analysis below the filter, which is
    * still an error, just a less tailored one.) */
  private def blocked(e: Expression): Boolean = e.exists {
    case _: WindowExpression => true
    case f: UnresolvedFunction if f.nameParts.length == 1 =>
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(
          f.nameParts.head.toLowerCase(java.util.Locale.ROOT)))
        .exists(info => info.getClassName != null &&
          info.getClassName.contains("expressions.aggregate"))
    case _ => false
  }

  /** The aliases of `list` that `cond` references past the child's own
    * columns — each name must match exactly one alias, movable. */
  private def movable(
      cond: Expression, list: Seq[NamedExpression],
      childOut: Seq[Attribute]): Seq[Alias] = {
    val aliases = list.collect { case a: Alias => a }
    unresolvableNames(cond, childOut).flatMap { n =>
      aliases.filter(a => resolver(a.name, n)) match {
        case Seq(one) if !blocked(one.child) => Some(one)
        case _ => None
      }
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case p @ Project(list, Filter(cond, child))
        if child.resolved && !cond.resolved =>
      val moved = movable(cond, list, child.output)
      if (moved.isEmpty) p
      else {
        val inner = Project(child.output ++ moved, child)
        val outer = list.map {
          case a: Alias if moved.exists(_ eq a) => UnresolvedAttribute.quoted(a.name)
          case other => other
        }
        Project(outer, Filter(cond, inner))
      }

    case ag: Aggregate =>
      ag.child match {
        case Filter(cond, child) if child.resolved && !cond.resolved =>
          // grouped shape: inline function-free alias bodies textually,
          // resolving their column refs against the child by hand
          val subs = movable(cond, ag.aggregateExpressions, child.output)
            .flatMap(a => resolveSimple(a.child, child.output).map(a.name -> _))
            .toMap
          if (subs.isEmpty) ag
          else {
            val nc = cond.transformUp {
              case u: UnresolvedAttribute if u.nameParts.length == 1 &&
                  subs.contains(u.nameParts.head) => subs(u.nameParts.head)
            }
            if (nc.fastEquals(cond)) ag else ag.copy(child = Filter(nc, child))
          }
        case _ => ag
      }
  }

  /** Resolve an alias body by hand against `childOut`: attribute leaves
    * only — any function call, star or subquery bails (None). */
  private def resolveSimple(
      e: Expression, childOut: Seq[Attribute]): Option[Expression] = {
    var ok = true
    val r = e.transformUp {
      case u: UnresolvedAttribute =>
        val hit =
          if (u.nameParts.length == 1)
            childOut.filter(a => resolver(a.name, u.nameParts.head))
          else Nil
        hit match {
          case Seq(one) => one
          case _ => ok = false; u
        }
    }
    if (ok && r.resolved && r.deterministic) Some(r) else None
  }
}
