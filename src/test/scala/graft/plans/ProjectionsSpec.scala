package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The projection-routing rule must (a) transparently answer a matching
  * aggregate from the partials table — visible in the physical plan —
  * with the same result, and (b) leave non-matching queries alone. */
class ProjectionsSpec extends SparkSpec {

  private def setup(): (String, String) = {
    val src = s"$sf0001/events.parquet"
    val mvDir = java.nio.file.Files.createTempDirectory("proj_spec").toString + "/partials"
    // build partials exactly as MatView maintenance would
    graft.streaming.MatView.partials(Tables.t(spark, sf0001, "events"))
      .write.mode("overwrite").parquet(mvDir)
    (src, mvDir)
  }

  test("matching aggregate routes to the projection and agrees with the base scan") {
    val (src, mvDir) = setup()
    val query = () => Tables.t(spark, sf0001, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(round(sum(col("value")), 4).as("s"), count(lit(1)).as("n"))

    val base = query().collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    Projections.clear()
    Projections.register(Projections.ProjectionDef(src, Seq("user_id", "event_type"), "value", mvDir))
    try {
      val routed = query()
      val plan = routed.queryExecution.executedPlan.toString
      assert(plan.contains("partials"), s"expected MV scan in plan: $plan")
      assert(!plan.contains("events.parquet"), s"base table still scanned: $plan")
      val got = routed.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      assert(got.sortBy(t => (t._1, t._2)).toSeq == base.sortBy(t => (t._1, t._2)).toSeq)
    } finally Projections.clear()
  }

  test("grouping by a key subset also routes") {
    val (src, mvDir) = setup()
    Projections.register(Projections.ProjectionDef(src, Seq("user_id", "event_type"), "value", mvDir))
    try {
      val routed = Tables.t(spark, sf0001, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      assert(routed.queryExecution.executedPlan.toString.contains("partials"))
      val total = routed.agg(sum(col("n"))).head.getLong(0)
      assert(total == Tables.t(spark, sf0001, "events").count())
    } finally Projections.clear()
  }

  test("a path with `.` segments routes the scan of the same file, both ways") {
    val (_, mvDir) = setup()
    val parent = new java.io.File(sf0001).getParent
    val base = new java.io.File(sf0001).getName
    val dotted = s"$parent/./$base"
    def routes(registerDir: String, scanDir: String): Boolean = {
      Projections.clear()
      Projections.register(Projections.ProjectionDef(s"$registerDir/events.parquet",
        Seq("user_id", "event_type"), "value", mvDir))
      try Tables.t(spark, scanDir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n")).queryExecution.executedPlan.toString
        .contains("partials")
      finally Projections.clear()
    }
    assert(routes(dotted, sf0001), s"projection routing did not fire: registered $dotted")
    assert(routes(sf0001, dotted), s"projection routing did not fire: scanned $dotted")
    assert(routes(s"$dotted/../$base", sf0001),
      s"projection routing did not fire: registered $dotted/../$base")
  }

  test("filters and foreign aggregates block routing") {
    val (src, mvDir) = setup()
    Projections.register(Projections.ProjectionDef(src, Seq("user_id", "event_type"), "value", mvDir))
    try {
      val filtered = Tables.t(spark, sf0001, "events")
        .where(col("value") > 0)
        .groupBy(col("user_id")).agg(sum(col("value")).as("s"))
      assert(!filtered.queryExecution.executedPlan.toString.contains("partials"))
      val maxAgg = Tables.t(spark, sf0001, "events")
        .groupBy(col("user_id")).agg(max(col("value")).as("m"))
      assert(!maxAgg.queryExecution.executedPlan.toString.contains("partials"))
    } finally Projections.clear()
  }
}
