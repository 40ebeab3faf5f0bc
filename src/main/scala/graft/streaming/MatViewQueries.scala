package graft.streaming

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The declared queries over [[MatView]]: each row builds its result
  * with the library calls and checks it against a DuckDB oracle. */
object MatViewQueries extends QueryRegistry {
  import MatView._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val defs: Seq[QueryDef] = Seq(
    // Batch anchor: maintaining the MV over the whole history and then
    // merge-on-read must equal the direct aggregate. The query runs the
    // two-step path (partials per 3 deterministic slices → merge) so the
    // oracle exercises the actual MV math, not a shortcut.
    QueryDef(
      "b_mv1_summing",
      (s, d) => {
        val ev = t(s, d, "events").select(
          col("user_id"), col("event_type"), col("value"), col("event_id"))
        // three deterministic "insert blocks", as if the history arrived
        // in micro-batches
        val slices = (0 until 3).map(i => partials(ev.where(col("event_id") % 3 === i)))
        mergeOnRead(slices.reduce(_ unionByName _))
      },
      Some("""SELECT user_id, event_type,
             |  round(sum(value), 6) AS sum_value, count(*) AS n
             |FROM events GROUP BY user_id, event_type""".stripMargin)),

    // CH projections: the same aggregate, but answered transparently from
    // the partials table by the RouteToProjection optimizer rule. The
    // build proves routing happened (plan must scan the partials path),
    // materializes eagerly, then clears the registry so no other declared
    // query is silently routed — registry hygiene, not a perf crutch.
    QueryDef(
      "b_mv2_projection_route",
      (s, d) => {
        val mvDir = partialsDir(s, d)
        graft.plans.Projections.register(graft.plans.Projections.ProjectionDef(
          s"$d/events.parquet", Seq("user_id", "event_type"), "value", mvDir))
        try {
          val routed = t(s, d, "events")
            .groupBy(col("user_id"), col("event_type"))
            .agg(round(sum(col("value")), 6).as("sum_value"), count(lit(1)).as("n"))
          require(
            routed.queryExecution.executedPlan.toString.contains("mv_partials"),
            "projection routing did not fire")
          routed.localCheckpoint(true)
        } finally graft.plans.Projections.clear()
      },
      Some("""SELECT user_id, event_type,
             |  round(sum(value), 6) AS sum_value, count(*) AS n
             |FROM events GROUP BY user_id, event_type""".stripMargin))
  )

  private val written = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Partials parquet for `d`'s events, built once per session. */
  private def partialsDir(s: SparkSession, d: String): String =
    written.computeIfAbsent(d, _ => {
      val dir = s"/tmp/graft_mv_partials/mv_partials_${math.abs(d.hashCode)}"
      partials(Tables.t(s, d, "events")).write.mode("overwrite").parquet(dir)
      dir
    })
}
