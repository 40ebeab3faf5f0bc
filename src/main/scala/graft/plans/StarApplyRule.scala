package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, NullType}

/** Resolver marker for CH's `* APPLY(f)` star modifier (see
  * [[graft.functions.ChSqlParser]]'s `rewriteStarApply`): no textual
  * rewrite can enumerate the star's columns, so the rescue tier emits
  * `ch_star_apply('f[,g…]', 'dropped[,…]', [qual.]*)` — Spark expands a
  * star inside function arguments into the relation's attributes during
  * resolution — and [[StarApplyRule]] re-expands the resolved marker
  * into one `g(f(col)) AS col` projection item per surviving column.
  *
  * `children(0)`: comma-joined function-name chain (applied inside-out);
  * `children(1)`: comma-joined column names to drop (the EXCEPT list
  * plus any REPLACE names, which the text rewrite re-emits separately);
  * `children(2…)`: the expanded star.
  *
  * Never evaluated: analysis fails loudly if the marker survives (a
  * `ch_star_apply` call somewhere other than a projection list). */
final case class ChStarApply(children: Seq[Expression])
    extends Expression with Unevaluable {
  override def dataType: DataType = NullType
  override def nullable: Boolean = true
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ChStarApply = copy(newChildren)
}

object ChStarApply {
  val fnName = "ch_star_apply"
  val registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (new FunctionIdentifier(fnName),
      new ExpressionInfo(classOf[ChStarApply].getName, fnName),
      (args: Seq[Expression]) => ChStarApply(args))
}

/** Post-hoc resolution rule expanding [[ChStarApply]] markers inside
  * projection lists. Runs after the analyzer resolved the star into
  * attributes; each function in the chain is looked up through the
  * session catalog (builtins and every dialect spelling registered via
  * the extension), so `* APPLY(toString) APPLY(length)` composes the
  * same expressions the spellings would produce inline.
  *
  * Deviation (documented): result columns keep their ORIGINAL names,
  * not CH's `f(col)` spelling — the oracle harness and downstream SQL
  * reference columns by name. */
class StarApplyRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ChStarApply]))))
      return plan
    // A marker expands 1 → N columns, so any parent node the analyzer
    // stacked ABOVE it (the ORDER-BY-missing-column wrapper Project)
    // still references the marker's single attr — rewrite those too.
    // transformUp visits children first, so the map is populated before
    // a referencing parent is reached.
    val expansions = scala.collection.mutable.Map.empty[ExprId, Seq[NamedExpression]]
    // Keyed by marker INSTANCE, not case-class equality: two textually
    // identical `* APPLY(f)` markers (e.g. one per UNION branch) are
    // structurally equal but must map to their own branch's expansion —
    // a hash map on equality would collide last-wins and let the Sort
    // ordinal pass bind to the wrong branch. Instance keying is sound
    // here because the Sort's ordinal reference shares the original
    // projection's expression tree (the first transformUp pass never
    // rebuilds the Sort node, so the instance survives).
    val byMarker = new java.util.IdentityHashMap[ChStarApply, Seq[NamedExpression]]()
    val expanded = plan.transformUp {
      case p @ Project(projList, child) =>
        val l2 = expandList(projList, expansions, byMarker)
        if (l2 eq projList) p
        // `SELECT * APPLY(sum) FROM t` without GROUP BY: the marker hid
        // the aggregates from the analyzer, so the node is a Project —
        // become the global Aggregate the inline spelling would be
        else if (l2.exists(_.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression])))
          Aggregate(Nil, l2, child)
        else Project(l2, child)
      case a @ Aggregate(grouping, aggList, child, hint) =>
        val l2 = expandList(aggList, expansions, byMarker)
        if (l2 eq aggList) a else Aggregate(grouping, l2, child, hint)
    }
    if (expansions.isEmpty && byMarker.isEmpty) return expanded
    // Second pass: the analyzer may have planted marker references in
    // nodes OTHER than the projection lists — `ORDER BY 1` resolves the
    // ordinal onto the marker itself (or its alias attr) inside a Sort.
    // CH's ordinal points at the first result column, so a Sort
    // reference maps to the expansion's first attribute; anything else
    // (GROUP BY/HAVING on the star) has no faithful 1→N reading and
    // fails with the feature named instead of a dangling-attribute
    // internal error.
    def lingering(e: Expression): Boolean = e.exists {
      case m: ChStarApply => byMarker.containsKey(m)
      case a: AttributeReference => expansions.contains(a.exprId)
      case _ => false
    }
    expanded.transformUp {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort
          if s.order.exists(lingering) =>
        s.transformExpressions {
          case m: ChStarApply if byMarker.containsKey(m) =>
            byMarker.get(m).head.toAttribute
          case a: AttributeReference if expansions.contains(a.exprId) =>
            expansions(a.exprId).head.toAttribute
        }
      case node if node.expressions.exists(lingering) &&
          !node.isInstanceOf[Project] && !node.isInstanceOf[Aggregate] =>
        throw new IllegalArgumentException(
          s"* APPLY: the expanded star is referenced from ${node.nodeName} " +
            "(e.g. GROUP BY/HAVING on the star) — reference result columns " +
            "by name instead")
    }
  }

  /** Expands markers in a projection list; rewrites references to an
    * already-expanded marker into the expansion's attributes. Returns
    * the original list instance (eq) when nothing changed. */
  private def expandList(
      list: Seq[NamedExpression],
      expansions: scala.collection.mutable.Map[ExprId, Seq[NamedExpression]],
      byMarker: java.util.IdentityHashMap[ChStarApply, Seq[NamedExpression]])
      : Seq[NamedExpression] = {
    val changed = list.exists {
      case Alias(_: ChStarApply, _) => true
      case a: AttributeReference => expansions.contains(a.exprId)
      case _ => false
    }
    if (!changed) return list
    list.flatMap {
      case al @ Alias(m: ChStarApply, _) =>
        val ex = expand(m)
        expansions(al.exprId) = ex
        byMarker.put(m, ex)
        ex
      case a: AttributeReference if expansions.contains(a.exprId) =>
        expansions(a.exprId).map(_.toAttribute)
      case other => Seq(other)
    }
  }

  private def litStr(e: Expression): Option[String] = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => Some(v.toString)
    case Literal(null, _) => Some("")
    case _ => None
  }

  private def expand(m: ChStarApply): Seq[NamedExpression] = {
    def bad(why: String): Nothing = throw new IllegalArgumentException(
      s"* APPLY: $why")
    if (m.children.length < 2) bad("malformed ch_star_apply marker")
    val fns = litStr(m.children(0)).getOrElse(bad("function chain must be a literal"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (fns.isEmpty) bad("empty function chain")
    val dropped = litStr(m.children(1)).getOrElse(bad("drop list must be a literal"))
      .split(",").map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty).toSet
    val cols = m.children.drop(2)
    val registry = session.sessionState.catalog
    cols.collect {
      case a: Attribute if !dropped.contains(a.name.toLowerCase(java.util.Locale.ROOT)) =>
        val applied = fns.foldLeft(a: Expression) { (e, f) =>
          registry.lookupFunction(FunctionIdentifier(f), Seq(e)) match {
            // `* APPLY(sum)` in an aggregate list: the registry hands
            // back the raw AggregateFunction — wrap it like the
            // analyzer would for an inline call
            case af: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
              af.toAggregateExpression()
            case other => other
          }
        }
        Alias(applied, a.name)()
      case e if !e.isInstanceOf[Attribute] =>
        bad(s"expected the marker's star to expand to columns, got $e")
    }
  }
}
