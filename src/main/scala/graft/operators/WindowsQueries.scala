package graft.operators

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Layer-B window-function surface (SURVEY.md §2.2 B-WIN1..3).
  *
  * Each query shuffles once on its partition keys and sorts within
  * partitions (`WindowExec`). Every partition key here is high-cardinality
  * (`o_custkey`, `user_id`), so no single key funnels more than a tiny
  * fraction of the input through one window task — the property that keeps
  * these plans skew-free at 100x the data.
  *
  * Determinism: row_number/ntile/lag/lead are only well-defined under a
  * total order, so every ORDER BY ends in a unique key; rank/dense_rank
  * are exercised on a genuinely tied ordering (deterministic by
  * definition of rank).
  */
object WindowsQueries extends QueryRegistry {

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- B-WIN1: ranking functions ----
    QueryDef(
      "b_win1_ranking",
      (s, d) => {
        // per-customer ranking: #groups scales with the data, per-group
        // size is bounded (orders per customer) — skew-free at any SF
        val unique = Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        val tied = Window
          .partitionBy(col("o_custkey"))
          .orderBy(floor(col("o_totalprice") / 100000.0).desc)
        t(s, d, "orders")
          .select(
            col("o_custkey"),
            col("o_orderkey"),
            row_number().over(unique).cast("long").as("rn"),
            ntile(4).over(unique).cast("long").as("quartile"),
            rank().over(tied).cast("long").as("rnk"),
            dense_rank().over(tied).cast("long").as("drnk"))
          .filter(col("rn") <= 5)
      },
      Some("""SELECT o_custkey, o_orderkey, rn, quartile, rnk, drnk FROM (
             |  SELECT o_custkey, o_orderkey,
             |    CAST(row_number() OVER w1 AS BIGINT) AS rn,
             |    CAST(ntile(4)     OVER w1 AS BIGINT) AS quartile,
             |    CAST(rank()       OVER w2 AS BIGINT) AS rnk,
             |    CAST(dense_rank() OVER w2 AS BIGINT) AS drnk
             |  FROM orders
             |  WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
             |         w2 AS (PARTITION BY o_custkey ORDER BY floor(o_totalprice / 100000.0) DESC)
             |) WHERE rn <= 5""".stripMargin)),

    // ---- B-WIN2: analytic functions lag/lead/first/last ----
    QueryDef(
      "b_win2_analytic",
      (s, d) => {
        val w = Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .select(
            col("event_id"),
            col("user_id"),
            lag(col("value"), 1).over(w).as("prev_value"),
            lead(col("value"), 1).over(w).as("next_value"),
            first(col("value")).over(wRun).as("first_value"),
            lag(col("event_type"), 2, "none").over(w).as("lag2_type"))
      },
      Some("""SELECT event_id, user_id,
             |  lag(value, 1)  OVER w AS prev_value,
             |  lead(value, 1) OVER w AS next_value,
             |  first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value,
             |  coalesce(lag(event_type, 2) OVER w, 'none') AS lag2_type
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // ---- B-WIN3: frames — running/rows and range aggregates ----
    QueryDef(
      "b_win3_frames",
      (s, d) => {
        val base = Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val trailing = base.rowsBetween(-2, Window.currentRow)
        // fractional RANGE frame bounds need the SQL form (the Scala
        // rangeBetween API is Long-only); partitioned per customer so the
        // range scan stays bounded per key
        val byPrice = expr(
          """count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
            |  RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW)""".stripMargin)
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            col("o_custkey"),
            round(sum(col("o_totalprice")).over(running), 2).as("run_spend"),
            round(avg(col("o_totalprice")).over(trailing), 4).as("ma3"),
            byPrice.as("peers_within_10k"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_spend,
             |  round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3,
             |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
             |    RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW) AS peers_within_10k
             |FROM orders""".stripMargin)),

    // ---- B-WIN4: distribution functions percent_rank / cume_dist ----
    QueryDef(
      "b_win5_distribution",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  round(percent_rank() OVER w, 6) AS pr,
             |  round(cume_dist() OVER w, 6) AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""".stripMargin))
  )
}
