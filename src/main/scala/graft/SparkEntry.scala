package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All declared query capabilities live in [[QueryRegistry]] modules; this
  * object concatenates them into the driver-facing maps.
  */
object SparkEntry {

  /** Registry modules in SURVEY.md §2 order. */
  def registries: Seq[QueryRegistry] = Seq(
    operators.RelationalQueries,
    operators.AggregatesQueries,
    operators.WindowsQueries,
    operators.ChExtrasQueries,
    operators.AnalyticsQueries,
    operators.ReshapeQueries,
    operators.SubqueriesQueries,
    operators.EnrichQueries,
    operators.BucketedQueries,
    functions.FunctionsQueries,
    functions.FnExtrasQueries,
    functions.ValueQueries,
    streaming.StreamingBatchQueries,
    streaming.MatViewQueries,
    connector.ConnectorQueries,
    sources.FormatsQueries,
    settings.SettingsQueries,
    llm.DedupQueries,
    llm.SimilarityQueries,
    llm.TextOpsQueries,
    llm.CurationQueries,
    llm.MultimodalQueries)

  def allDefs: Seq[QueryDef] = {
    val defs = registries.flatMap(_.defs)
    require(defs.map(_.name).distinct.size == defs.size, "duplicate query names")
    defs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape (SURVEY.md §7.1 step 2 — the minimum end-to-end slice).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("b_agg1_hash_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
