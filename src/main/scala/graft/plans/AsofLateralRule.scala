package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Plan-level rescue for LATERAL "best-match probe" subqueries — the
  * shape [[graft.functions.ChSqlParser]] emits for CH `ASOF JOIN` /
  * `ANY JOIN` text:
  *
  * {{{ l LEFT JOIN LATERAL (SELECT … FROM r WHERE <cond(l, r)>
  *     [ORDER BY ord…] LIMIT 1) p }}}
  *
  * Spark's own decorrelation of a LIMIT-1 subquery correlated on an
  * INEQUALITY builds a domain of distinct left ordering values and
  * nested-loop-joins it against the whole right side on the inequality
  * alone — O(|distinct ts| x |right|) work (measured: minutes at
  * sf0.1, where the rewritten plan below takes under a second). This
  * rule runs at post-hoc resolution, BEFORE decorrelation, and turns
  * the lateral into the plan a human would write:
  *
  *  1. tag every left row with a monotonic id;
  *  2. JOIN the right side on the FULL probe condition (its equi
  *     conjuncts drive a hash/sort-merge join; the inequality rides
  *     along as a residual — never a nested loop over a domain);
  *  3. per left row, keep the best right row with `min_by`/`max_by`
  *     of `struct(r.*)` over a STRUCT-ENCODED sort key (below), or
  *     `first` (arbitrary, like CH ANY) when the probe has no ORDER BY;
  *  4. re-apply the probe's projection over the kept struct's fields,
  *     preserving the original attribute ids.
  *
  * '''Null-faithful ordering.''' `max_by`/`min_by` skip rows whose
  * ordering value is NULL, while Spark's `Sort` ranks them per the
  * SortOrder's null placement (ASC defaults to NULLS FIRST) — a naive
  * argmax can silently pick a different row than `ORDER BY … LIMIT 1`,
  * and a group whose ordering values are all NULL would return NULL
  * instead of a real row. So each sort key becomes TWO struct fields:
  * `(nullRank, value)`, where `nullRank` is 0/1 encoding the key's
  * NULLS FIRST/LAST placement for the chosen aggregate. The struct
  * itself is never NULL, so no row is ever skipped, and lexicographic
  * struct comparison reproduces `Sort` exactly — including explicit
  * non-default null ordering and all-NULL groups. Mixed-direction
  * multi-key sorts fold into a single aggregate by order-negating the
  * counter-direction keys (`~x` for integral/date/timestamp —
  * monotone-decreasing with no ANSI overflow, unlike `-x`; `-x` for
  * decimals; `NOT x` for booleans); BOTH aggregate directions are
  * tried, so a DESC key of a non-negatable type (string; float — NaN
  * breaks negation monotonicity) folds into `max_by` with the ASC
  * keys negated instead. Only a sort carrying non-negatable keys in
  * both directions still falls back to Spark.
  *
  * '''Projected probes.''' A probe that projects (`SELECT r.v FROM …`)
  * — including the analyzer's sort-on-missing-attribute shape
  * `Project(narrow, Sort(…, Project(wide, Filter)))` — is handled by
  * substituting the projection down to the filtered relation's output
  * and re-applying it AFTER the argmax, over the kept struct's fields.
  * For LEFT lateral joins a literal match tag rides in the struct so
  * non-null-propagating projections (`coalesce(r.v, 0)`, literals)
  * still yield NULL on unmatched left rows, exactly like the lateral.
  *
  * Join output is bounded by per-key match products (the same bound
  * every window-based asof pays), aggregated down map-side before the
  * shuffle. The API forms (`AsOfJoin.leftAsOf` — linear union-window —
  * and `leftAsOfBucketed`) remain the preferred 100-TB shapes; this
  * rule makes the TEXT spelling safe at scale.
  *
  * '''LIMIT k > 1 probes''' (top-k matches per left row) and LIMIT-1
  * sorts with non-negatable keys in both directions take a WINDOW path
  * over the same join instead: `row_number()` partitioned by the left
  * row id, ordered by the probe's OWN sort (windows carry mixed
  * directions and null placement natively — no encoding, no
  * negation limits), filtered to rank <= k. Costlier than the argmax
  * (a full sort of the joined set vs a map-side partial) but still
  * never the domain nested loop.
  *
  * '''Outer references in the projection / ORDER BY''' (round 9): the
  * "nearest match" spelling `ORDER BY abs(l.ts - r.rts) LIMIT 1` and
  * delta projections `SELECT l.ts - r.rts AS lag` strip their
  * `OuterReference` wrappers and ride the rewrite — after the join both
  * the argmax's ordering input and the window's sort evaluate over the
  * joined row, where the left columns are in scope; in the aggregate
  * path the re-applied projection resolves left columns to the
  * first()-carried aggregates, and left-referencing outputs are
  * tag-guarded so unmatched left-outer rows stay NULL exactly like an
  * empty probe.
  *
  * Remaining bail-outs (fall back to Spark's decorrelation — correct,
  * just slower): LIMIT k > 1 with no ORDER BY (no deterministic window
  * order), a lateral join condition, outer references below the peeled
  * tower (inside the probe's own relation), non-deterministic or
  * subquery-bearing expressions, and aggregates/windows inside the
  * probe.
  */
class AsofLateralRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // Cross is how `CROSS JOIN LATERAL` (the parser's INNER asof/any
    // emission) arrives; with the probe's own filter as the join
    // condition it is exactly an inner join
    case lj @ LateralJoin(left, sub: LateralSubquery, joinType @ (LeftOuter | Inner | Cross), None)
        if sub.plan.resolved && left.resolved =>
      rewrite(lj, left, sub, joinType == LeftOuter).getOrElse(lj)
  }

  private def hasOuterRef(e: Expression): Boolean =
    e.exists(_.isInstanceOf[OuterReference])

  /** Expression safe to move through the rewrite: deterministic, no
    * nested subquery plan, no aggregate/window (those change the
    * probe's cardinality semantics). */
  private def movable(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case _: PlanExpression[_] => true
      case _: AggregateExpression => true
      case _: WindowExpression => true
      case _ => false
    }

  /** Order-negation for DESC keys folded into a `min_by`: monotone
    * strictly-decreasing, total, and overflow-free on the type's whole
    * domain. Bitwise-not (−x−1) beats unary minus for integrals: it
    * cannot overflow at MinValue under ANSI. Float/double are excluded
    * because negation breaks NaN's "largest value" ordering. */
  private def negateOrder(e: Expression): Option[Expression] = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => Some(BitwiseNot(e))
    case DateType => Some(BitwiseNot(Cast(e, IntegerType)))
    case TimestampType | TimestampNTZType => Some(BitwiseNot(Cast(e, LongType)))
    case _: DecimalType => Some(UnaryMinus(e))
    case BooleanType => Some(Not(e))
    case _ => None
  }

  private def rewrite(
      lj: LateralJoin,
      left: LogicalPlan,
      sub: LateralSubquery,
      leftOuter: Boolean): Option[LogicalPlan] = {
    // ---- peel: [Alias] Limit 1 over a (Alias|Project|Sort|Filter)*
    // tower; carry the probe's output projection, captured sort orders
    // and filter conjuncts down through each Project by substitution,
    // so they all end up phrased over the filtered relation's output.
    val (afterLimit, limitK) = sub.plan match {
      case SubqueryAlias(_, GlobalLimit(IntegerLiteral(k), LocalLimit(IntegerLiteral(k2), body)))
          if k == k2 && k >= 1 => (body, k)
      case GlobalLimit(IntegerLiteral(k), LocalLimit(IntegerLiteral(k2), body))
          if k == k2 && k >= 1 => (body, k)
      case _ => return None
    }
    var outExprs: Seq[Expression] = sub.plan.output
    var orders: Seq[SortOrder] = Nil
    var conds: Seq[Expression] = Nil
    var sawSort = false
    var cur: LogicalPlan = afterLimit
    var inner: LogicalPlan = null
    var guard = 0
    while (inner == null && { guard += 1; guard } < 64) {
      cur match {
        case SubqueryAlias(_, c) => cur = c
        case Project(list, c) =>
          if (!list.forall(movable)) return None
          val m = AttributeMap(list.map {
            case a @ Alias(child, _) => a.toAttribute -> child
            case ne => ne.toAttribute -> (ne: Expression)
          })
          def subst(e: Expression): Expression = e.transform {
            case a: Attribute if m.contains(a) => m(a)
          }
          outExprs = outExprs.map(subst)
          orders = orders.map(so => so.copy(child = subst(so.child)))
          conds = conds.map(subst)
          cur = c
        case Sort(os, true, c, _) if !sawSort =>
          sawSort = true
          orders = os
          cur = c
        case Filter(c, child) =>
          // keep peeling: a second Filter (or a Project under the
          // filter) still composes; the loop bottoms out at the
          // relation via the default case
          conds = conds :+ c
          cur = child
        case other =>
          inner = other
      }
    }
    if (inner == null) return None
    if (conds.isEmpty) return None // uncorrelated / unfiltered: Spark is fine
    // no correlation may remain below the peeled tower
    if (inner.exists(_.expressions.exists(hasOuterRef))) return None
    if (left.output.isEmpty || inner.output.isEmpty) return None
    // outer references in the probe's PROJECTION and ORDER BY — the
    // "nearest match" spelling `ORDER BY abs(l.ts - r.rts) LIMIT 1` and
    // delta projections `SELECT l.ts - r.rts AS lag …` — become plain
    // left-column references once the lateral is a real join (both the
    // argmax's ordering input and the window's sort evaluate over the
    // joined row, where the left columns are in scope)
    def stripOuter(e: Expression): Expression =
      e.transform { case OuterReference(a) => a }
    outExprs = outExprs.map(stripOuter)
    orders = orders.map(so => so.copy(child = stripOuter(so.child)))
    if (!outExprs.forall(e => movable(e) &&
      e.references.subsetOf(inner.outputSet ++ left.outputSet))) return None

    // the correlated probe condition becomes a plain join condition
    val cond0 = conds.reduce(And.apply)
    if (!movable(cond0)) return None
    val cond = cond0.transform { case OuterReference(a) => a }
    if (!cond.references.subsetOf(left.outputSet ++ inner.outputSet)) return None

    // ---- the ordering, struct-encoded to be null-faithful (scaladoc)
    if (orders.exists(so => !movable(so.child))) return None
    if (orders.nonEmpty && !orders.forall(
      _.child.references.subsetOf(inner.outputSet ++ left.outputSet)))
      return None
    sealed trait Best
    case object UseFirst extends Best
    final case class UseAgg(min: Boolean, ord: Expression) extends Best
    case object UseWindow extends Best
    val best: Best =
      if (limitK > 1) {
        // LIMIT k probes (top-k per left row) can't fold into one
        // argmax; rank the matches with the probe's OWN sort instead —
        // windows take mixed directions and null placement natively, so
        // no encoding and no bail-outs. A k>1 probe with no ORDER BY
        // has no deterministic window order — Spark keeps it.
        if (orders.isEmpty) return None else UseWindow
      }
      else if (orders.isEmpty) UseFirst
      else {
        // ONE aggregate must carry every key: encode for min_by (keys
        // in sort direction ride raw, counter-direction keys order-
        // negate), and if a counter-direction key has no sound negation
        // try the OTHER direction — max_by with the ASC keys negated
        // instead. A mixed sort with a DESC string key (the one
        // commonly-typed shape that used to bail) thus folds into
        // max_by as long as its ASC keys negate; only non-negatable
        // keys in BOTH directions still fall back to Spark. nullRank
        // encodes the (possibly explicit) null placement RELATIVE to
        // the chosen aggregate so NULL keys land exactly where Sort
        // puts them: min_by keeps the smallest encoding, so NULLS FIRST
        // ranks 0; max_by keeps the largest, so NULLS FIRST ranks 1.
        def encode(d: SortDirection): Option[Expression] = {
          val fields = orders.map { so =>
            val nullsFirst = so.nullOrdering == NullsFirst
            val (nullRank, valRank) =
              if ((d == Ascending) == nullsFirst) (Literal(0), Literal(1))
              else (Literal(1), Literal(0))
            val enc =
              if (so.direction == d) Some(so.child) else negateOrder(so.child)
            enc.map(e => Seq(If(IsNull(so.child), nullRank, valRank), e))
          }
          if (fields.exists(_.isEmpty)) None
          else Some(CreateStruct(fields.flatten.flatten))
        }
        // try the sort's dominant direction first so single-direction
        // sorts keep their raw-key encoding (all-DESC → plain max_by,
        // no negation casts), falling back to the flipped aggregate
        val primary =
          if (orders.forall(_.direction == Descending)) Descending else Ascending
        val secondary = if (primary == Ascending) Descending else Ascending
        encode(primary).map(e => UseAgg(min = primary == Ascending, e))
          .orElse(encode(secondary).map(e => UseAgg(min = secondary == Ascending, e)))
          // non-negatable keys in BOTH directions: the window path
          // still beats decorrelation (full sort of the joined set vs
          // a domain nested loop) — LIMIT 1 via rank-1 filter
          .getOrElse(UseWindow)
      }

    // 1) tag left rows
    val lid = Alias(MonotonicallyIncreasingID(), "ch_asof_lid_")()
    val left2 = Project(left.output :+ lid, left)
    // match tag: NULL exactly on a left-outer join's null-extended row,
    // so non-null-propagating projections can be NULL-guarded below
    val tag = Alias(Literal(1), "ch_asof_tag_")()
    val inner2 = Project(inner.output :+ tag, inner)
    // 2) one real join on the full condition
    val joined = Join(left2, inner2,
      if (leftOuter) LeftOuter else Inner, Some(cond), JoinHint.NONE)

    // ---- window path: rank matches per left row by the probe's sort,
    // keep rank <= k. The per-lid partitions are bounded by the join's
    // per-key match product (the same bound the aggregate path and any
    // window asof pays); the left-outer null-extended row ranks 1 in
    // its singleton partition and survives. Used for LIMIT k > 1 and as
    // the LIMIT-1 fallback when no sort encoding exists.
    if (best == UseWindow) {
      val rn = Alias(WindowExpression(RowNumber(),
        WindowSpecDefinition(Seq(lid.toAttribute), orders,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
        "ch_asof_rn_")()
      val windowed = Window(Seq(rn), Seq(lid.toAttribute), orders, joined, None)
      val filtered = Filter(LessThanOrEqual(rn.toAttribute, Literal(limitK)), windowed)
      val rightCols = sub.plan.output.zip(outExprs).map { case (out, e) =>
        val guarded = e match {
          case _ if !leftOuter => e
          // join null-extends bare RIGHT columns; a bare left column (or
          // any left-referencing expression) must be tag-guarded to stay
          // NULL on unmatched rows like the lateral's empty probe
          case a: Attribute if inner.outputSet.contains(a) => a
          case _ => If(IsNull(tag.toAttribute), Literal.create(null, out.dataType), e)
        }
        Alias(guarded, out.name)(exprId = out.exprId)
      }
      val result = Project((left.output ++ rightCols).toSeq, filtered)
      if (result.output.map(a => (a.name, a.exprId)) !=
        lj.output.map(a => (a.name, a.exprId))) return None
      return Some(result)
    }
    // 3) best right row per left row. The encoded ordering struct is
    // never NULL (CreateStruct), so min_by/max_by never skip a row —
    // including the left-outer null-extended row, whose all-NULL fields
    // re-expand to NULL columns.
    val rStruct = CreateStruct((inner.output :+ tag.toAttribute).toSeq)
    val bestAgg = best match {
      case UseAgg(true, ord) => new MinBy(rStruct, ord)
      case UseAgg(false, ord) => new MaxBy(rStruct, ord)
      case UseFirst => new First(rStruct, ignoreNulls = false)
    }
    val bestName = Alias(bestAgg.toAggregateExpression(), "ch_asof_best_")()
    // Group on the lid ALONE (one long — narrow sort/shuffle key, and
    // the map-side partial collapses to |left| rows before the
    // exchange); every left column rides along as first() of its
    // single-lid group.
    val lidAttr = lid.toAttribute
    val carried = left.output.map(a =>
      Alias(new First(a, ignoreNulls = false).toAggregateExpression(), a.name)())
    val agg = Aggregate(Seq(lidAttr), (carried :+ bestName).toSeq, joined)
    // 4) restore the lateral's output columns and ids: re-apply the
    // probe's (substituted) projection over the kept struct's fields
    val bestAttr = bestName.toAttribute
    val fieldOf: Map[ExprId, Expression] = inner.output.zipWithIndex.map {
      case (a, i) => a.exprId -> (GetStructField(bestAttr, i, Some(a.name)): Expression)
    }.toMap
    val tagField = GetStructField(bestAttr, inner.output.length, Some("ch_asof_tag_"))
    val leftCols = left.output.zip(carried).map { case (orig, c) =>
      Alias(c.toAttribute, orig.name)(exprId = orig.exprId)
    }
    // left columns referenced by the probe's projection resolve to the
    // same first()-carried aggregates the left output rides on
    val leftFieldOf: Map[ExprId, Expression] = left.output.zip(carried).map {
      case (a, c) => a.exprId -> (c.toAttribute: Expression)
    }.toMap
    val rightCols = sub.plan.output.zip(outExprs).map { case (out, e) =>
      val expanded = e.transform {
        case a: Attribute if fieldOf.contains(a.exprId) => fieldOf(a.exprId)
        case a: Attribute if leftFieldOf.contains(a.exprId) => leftFieldOf(a.exprId)
      }
      val guarded = expanded match {
        case _ if !leftOuter => expanded
        case g: GetStructField if g.child.semanticEquals(bestAttr) => expanded // bare field: already NULL
        case _ => If(IsNull(tagField), Literal.create(null, out.dataType), expanded)
      }
      Alias(guarded, out.name)(exprId = out.exprId)
    }
    val result = Project((leftCols ++ rightCols).toSeq, agg)
    // sanity: same schema as the node we replace
    if (result.output.map(a => (a.name, a.exprId)) !=
      lj.output.map(a => (a.name, a.exprId))) return None
    Some(result)
  }
}
