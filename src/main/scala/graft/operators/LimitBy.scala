package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group top-k (SURVEY.md §2.2 B-TOPK1; ClickHouse `LIMIT n BY expr`
  * reaches the reference only as passthrough SQL, `src/client.rs:643`).
  *
  * Two-phase: a per-input-partition local top-k (local sort + one JIT'd
  * pass, no shuffle) bounds what the exchange carries to at most
  * k rows per (input partition, group); the global rank-over-window then
  * runs on that reduced set. This keeps low-cardinality group keys scalable
  * — a single group never funnels more than k·numPartitions rows through
  * one window task, vs O(N/groups) for the naive single-phase form.
  */
object LimitBy {

  /** Keep rows `offset+1 .. offset+k` of each group under `orderCols`
    * (CH `LIMIT k OFFSET offset BY expr`; offset 0 = plain LIMIT BY).
    * The caller must make `orderCols` a total order (add a unique
    * tiebreaker) if deterministic output is required.
    */
  def limitBy(
      df: DataFrame,
      groupCols: Seq[Column],
      orderCols: Seq[Column],
      k: Int,
      offset: Int = 0): DataFrame = {
    val keep = k + offset // phase 1 must retain the skipped prefix too
    val gk = "__limitby_gk"
    val withKey = df.withColumn(gk, struct(groupCols: _*))

    // Phase 1: local top-(k+offset). Sort within each input partition by
    // (group, order) — no exchange — then keep each group run's head.
    val locallySorted = withKey.sortWithinPartitions(col(gk) +: orderCols: _*)
    val gkIdx = locallySorted.schema.fieldIndex(gk)
    val local = locallySorted.mapPartitions { it =>
      var current: Any = null
      var seen = 0
      var first = true
      it.filter { row =>
        val key = row.get(gkIdx)
        if (first || key != current) { current = key; seen = 0; first = false }
        seen += 1
        seen <= keep
      }
    }(Encoders.row(locallySorted.schema))

    // Phase 2: global rank over the (<= keep * numPartitions per group) rest.
    val rn = "__limitby_rn"
    val w = Window.partitionBy(col(gk)).orderBy(orderCols: _*)
    local.withColumn(rn, row_number().over(w))
      .filter(col(rn) > offset && col(rn) <= keep)
      .drop(rn, gk)
  }
}
