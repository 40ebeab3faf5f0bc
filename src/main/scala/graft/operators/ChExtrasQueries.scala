package graft.operators

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ClickHouse dialect extensions a reference user reaches through SQL
  * passthrough (`clickhouse-arrow/src/client.rs:643`), re-expressed as
  * native Spark plans:
  *
  *  - `GROUP BY ... WITH TOTALS` → grouped agg UNION ALL a grand-total
  *    row (null key), both sides sharing one scan via self-union of the
  *    same cached plan shape;
  *  - `SELECT ... FROM t FINAL` (ReplacingMergeTree latest-version-per-
  *    key) → `max_by` over the (ts, tiebreak) struct — one hash
  *    aggregate, no window sort;
  *  - `SAMPLE k` (deterministic hash sampling; CH samples by
  *    intHash32(key) ranges) → filter on an md5-prefix range, which
  *    is engine-portable AND stable under re-runs — every executor
  *    picks the same rows, unlike `rand()`-based sampling.
  */
object ChExtrasQueries extends QueryRegistry {

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- WITH TOTALS ----
    QueryDef(
      "b_agg11_with_totals",
      (s, d) => {
        val orders = t(s, d, "orders")
        val grouped = orders.groupBy(col("o_orderpriority").as("prio"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("rev"))
        val totals = orders.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("rev"))
          .select(lit(null).cast("string").as("prio"), col("n"), col("rev"))
        grouped.unionByName(totals)
      },
      Some("""SELECT o_orderpriority AS prio, count(*) AS n, round(sum(o_totalprice), 2) AS rev
             |FROM orders GROUP BY o_orderpriority
             |UNION ALL
             |SELECT NULL AS prio, count(*) AS n, round(sum(o_totalprice), 2) AS rev
             |FROM orders""".stripMargin)),

    // ---- FINAL: latest version per key, one hash agg (no window sort) ----
    QueryDef(
      "b_src5_final",
      (s, d) =>
        t(s, d, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(
            max_by(col("value"), struct(col("ts"), col("event_id"))).as("last_value"),
            max(col("event_id")).as("max_event_id")),
      Some("""SELECT user_id, event_type, last_value, max_event_id FROM (
             |  SELECT user_id, event_type, value AS last_value,
             |    max(event_id) OVER (PARTITION BY user_id, event_type) AS max_event_id,
             |    row_number() OVER (PARTITION BY user_id, event_type
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn = 1""".stripMargin)),

    // ---- deterministic hash SAMPLE (~10%) ----
    QueryDef(
      "b_smp1_hash_sample",
      (s, d) =>
        t(s, d, "orders")
          .filter(substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 2) < "1a")
          .select("o_orderkey", "o_custkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'""".stripMargin)),

    // ---- join algorithm selection (CH `join_algorithm` setting) ----
    // CH users pick hash/partial-merge/grace-hash per query via
    // settings; the Spark-native lever is a strategy hint. Here the
    // build side is hinted shuffle-hash (no sort of the big probe side —
    // CH's default hash-join shape); ChExtrasSpec asserts the planner
    // honored it.
    QueryDef(
      "b_jn11_hint_shuffle_hash",
      (s, d) =>
        t(s, d, "lineitem")
          .join(t(s, d, "orders").hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("qty")),
      Some("""SELECT o_orderstatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus""".stripMargin)),

    // ---- join_algorithm = 'full_sorting_merge' (CH) → SHUFFLE_MERGE
    // hint: both sides sort-merge on the key, the strategy for two huge
    // pre-sorted/bucketed fact tables where hash tables would spill.
    // ChExtrasSpec asserts the SortMergeJoin actually materializes. ----
    QueryDef(
      "b_jn15_hint_merge",
      (s, d) =>
        t(s, d, "lineitem")
          .join(t(s, d, "orders").hint("shuffle_merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("rev")),
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority""".stripMargin))
  )
}
