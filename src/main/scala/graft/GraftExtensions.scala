package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension point (SparkSessionExtensions): registers the
  * ClickHouse value-semantics functions (SURVEY.md §4.2) in the
  * FunctionRegistry so they resolve from SQL text and
  * `functions.call_function` — codegen'd Catalyst expressions, not UDFs.
  *
  * Activate with `spark.sql.extensions=graft.GraftExtensions`
  * (set by [[Sessions.withGraftConfs]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.ValueExpressions.all.foreach(ext.injectFunction)
    functions.VecExpressions.all.foreach(ext.injectFunction)
    // CH SQL dialect: reference users' function spellings resolve onto
    // built-in Catalyst expressions (pure name mapping, codegen'd)
    functions.ChDialect.all.foreach(ext.injectFunction)
    // CH parameterized-aggregate syntax `quantile(0.9)(x)`: quote-aware
    // textual rewrite onto the two-arg spellings, then Spark's own parser
    ext.injectParser((_, parser) => new functions.ChSqlParser(parser))
    // CH projections: transparent agg → pre-aggregate routing
    // (no-op until graft.plans.Projections.register is called)
    ext.injectOptimizerRule(session => new plans.RouteToProjection(session))
    // CH alias-in-WHERE: `SELECT x+1 AS s … WHERE s > 3` resolves like
    // ClickHouse by inlining the alias body into the filter (only for
    // names that do NOT resolve against the scan — a real column wins)
    ext.injectResolutionRule(session => new plans.AliasInWhereRule(session))
    // LATERAL best-match probes (the ASOF/ANY JOIN text shape) rewritten
    // into join + per-left-row argmax BEFORE Spark's decorrelation turns
    // the inequality correlation into a domain nested-loop join
    ext.injectPostHocResolutionRule(_ => new plans.AsofLateralRule)
    // CH `* APPLY(f)` star modifier: the rescue tier wraps the star in a
    // ch_star_apply marker; this rule re-expands it per resolved column
    ext.injectFunction(plans.ChStarApply.registration)
    ext.injectPostHocResolutionRule(session => new plans.StarApplyRule(session))
  }
}
