package graft.operators

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Result-reshaping surface a reference user reaches through SQL
  * passthrough (`clickhouse-arrow/src/client.rs:643`):
  *
  *  - `ORDER BY ... WITH FILL FROM ... TO ... STEP` (gap filling) —
  *    Spark has no WITH FILL; the idiomatic plan is generate-the-axis
  *    (`sequence` + `explode`, a leaf with no scan) LEFT JOIN the
  *    aggregate, so the fill never touches the fact table and the join
  *    broadcasts the tiny axis side;
  *  - CH `sumMap`-style cross-tab / SQL PIVOT — `groupBy().pivot()` with
  *    an EXPLICIT value list: without it Spark runs a blocking distinct
  *    job over the pivot column before planning (a scan you don't want
  *    at 100 TB);
  *  - UNPIVOT (CH `arrayJoin(map(...))` idiom) — native `unpivot`
  *    (Spark 3.4+), a generator, no shuffle at all.
  */
object ReshapeQueries extends QueryRegistry {

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val defs: Seq[QueryDef] = Seq(

    // ---- WITH FILL: daily purchase counts over a fixed axis that
    // extends past the data (fill rows materialize with n = 0) ----
    QueryDef(
      "b_fil1_with_fill",
      (s, d) => {
        val counts = t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        val axis = s.range(1)
          .select(explode(sequence(
            lit(java.sql.Date.valueOf("2024-01-01")),
            lit(java.sql.Date.valueOf("2024-02-10")),
            expr("INTERVAL 1 DAY"))).as("day"))
        axis.join(counts, Seq("day"), "left")
          // string form: the oracle harness canonicalizes DATE columns
          // differently per engine; ISO text is representation-stable
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            coalesce(col("n"), lit(0L)).as("n"))
      },
      Some("""SELECT strftime(CAST(g.d AS DATE), '%Y-%m-%d') AS day, coalesce(e.n, 0) AS n
             |FROM generate_series(DATE '2024-01-01', DATE '2024-02-10',
             |                     INTERVAL 1 DAY) g(d)
             |LEFT JOIN (
             |  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1) e
             |ON e.day = CAST(g.d AS DATE)""".stripMargin)),

    // ---- WITH FILL … INTERPOLATE: fill rows carry the last observed
    // value forward (CH's default INTERPOLATE carries the previous row's
    // expression). The ignoreNulls-last window runs over the AXIS (41
    // rows), not the fact table — a single tiny task by construction. ----
    QueryDef(
      "b_fil2_interpolate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val vals = t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(round(max(col("value")), 4).as("v"))
        val axis = s.range(1)
          .select(explode(sequence(
            lit(java.sql.Date.valueOf("2024-01-01")),
            lit(java.sql.Date.valueOf("2024-02-10")),
            expr("INTERVAL 1 DAY"))).as("day"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        axis.join(vals, Seq("day"), "left")
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            last(col("v"), ignoreNulls = true).over(w).as("v_fill"))
      },
      Some("""WITH axis AS (
             |  SELECT CAST(g.d AS DATE) AS day
             |  FROM generate_series(DATE '2024-01-01', DATE '2024-02-10', INTERVAL 1 DAY) g(d)),
             |vals AS (
             |  SELECT CAST(ts AS DATE) AS day, round(max(value), 4) AS v FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1)
             |SELECT strftime(a.day, '%Y-%m-%d') AS day,
             |  last_value(v.v IGNORE NULLS) OVER (ORDER BY a.day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
             |FROM axis a LEFT JOIN vals v ON v.day = a.day""".stripMargin)),

    // ---- PIVOT: revenue by status x priority (explicit value list) ----
    QueryDef(
      "b_pvt1_pivot",
      (s, d) =>
        t(s, d, "orders")
          .groupBy(col("o_orderstatus"))
          .pivot("o_orderpriority", priorities)
          .agg(round(sum(col("o_totalprice")), 2)),
      Some("""SELECT o_orderstatus,
             |  round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS "1-URGENT",
             |  round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS "2-HIGH",
             |  round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS "3-MEDIUM",
             |  round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS "4-NOT SPECIFIED",
             |  round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS "5-LOW"
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // ---- UNPIVOT: wide numeric columns to (key, metric, value) rows ----
    QueryDef(
      "b_pvt2_unpivot",
      (s, d) =>
        t(s, d, "part")
          .select(col("p_partkey"),
            col("p_size").cast("double").as("p_size"), col("p_retailprice"))
          .unpivot(
            Array(col("p_partkey")),
            Array(col("p_size"), col("p_retailprice")),
            "metric", "value"),
      Some("""SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
             |UNION ALL
             |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part""".stripMargin)),

    // ---- per-group gap fill: each user's own daily axis ----
    // The global WITH FILL (b_fil1) generates one axis; the per-group
    // variant generates each key's [min_day, max_day] span and left-joins
    // the facts back. Axis size is bounded by each group's own span, and
    // the generator runs AFTER the groupBy — the fact table is scanned
    // once. Day crosses the oracle as a string: the fixture's nanosecond
    // timestamps round-trip differently as raw pandas datetimes.
    QueryDef(
      "b_fil3_group_fill",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .agg(round(sum(col("value")), 6).as("s"))
        val axis = daily.groupBy(col("user_id"))
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
        axis.join(daily, Seq("user_id", "day"), "left")
          .select(
            col("user_id"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            coalesce(col("s"), lit(0.0)).as("s"))
      },
      Some("""WITH daily AS (
             |  SELECT user_id, date_trunc('day', ts) AS day, round(sum(value), 6) AS s
             |  FROM events GROUP BY user_id, date_trunc('day', ts)),
             |axis AS (
             |  SELECT user_id, unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
             |  FROM daily GROUP BY user_id)
             |SELECT a.user_id, strftime(a.day, '%Y-%m-%d') AS day, coalesce(d.s, 0.0) AS s
             |FROM axis a LEFT JOIN daily d ON a.user_id = d.user_id AND a.day = d.day""".stripMargin))
  )
}
