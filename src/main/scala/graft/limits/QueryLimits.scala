package graft.limits

import org.apache.spark.sql.DataFrame

/** Result limiting with truncation stats (SURVEY.md §2.1 A11; reference:
  * `clickhouse-arrow/src/limits.rs:84-130` `QueryLimits`, `:255-330`
  * `LimitedResponse`).
  *
  * The reference truncates an async RecordBatch stream at max
  * rows/batches/bytes and reports `QueryStats{truncated, reason}`. In
  * Spark the distributed equivalents are `limit` (planned as
  * CollectLimit/GlobalLimit — executors stop early) and a byte budget
  * derived from row width. Truncation detection is done with a +1 probe
  * row rather than a count() of the full input, so the check itself stays
  * O(limit), never O(input).
  */
final case class QueryLimits(
    maxRows: Option[Long] = None,
    maxEstimatedBytes: Option[Long] = None)

final case class QueryStats(returnedRows: Long, truncated: Boolean, reason: String)

object Limited {

  /** Apply `limits` to `df`. Returns the limited DataFrame plus stats.
    * Mirrors `LimitedResponse`'s behavior of stopping at the first
    * exceeded limit and reporting why.
    */
  def apply(df: DataFrame, limits: QueryLimits): (DataFrame, QueryStats) = {
    val rowCap: Option[Long] = Seq(
      limits.maxRows,
      limits.maxEstimatedBytes.map { bytes =>
        val width = math.max(1L, df.schema.map(f => f.dataType.defaultSize).sum.toLong)
        bytes / width
      }).flatten.reduceOption(_ min _)

    rowCap match {
      case None => (df, QueryStats(-1L, truncated = false, reason = "none"))
      case Some(cap) =>
        val capInt =
          if (cap >= Int.MaxValue.toLong) Int.MaxValue - 1 else cap.toInt
        // single pass over the input: eagerly materialize cap+1 rows once
        // (localCheckpoint cuts the lineage — at most cap+1 rows of
        // executor storage), count the materialized rows to learn whether
        // we truncated, and serve the returned frame from the checkpoint.
        // Unlike cache(), checkpoint blocks are released by the
        // ContextCleaner as soon as the returned frame is unreferenced —
        // repeated capped calls in a long-lived session don't accumulate
        // pinned storage. The input itself is never scanned twice.
        val probeDf = df.limit(capInt + 1).localCheckpoint()
        val probe = probeDf.count()
        val truncated = probe > capInt
        val reason =
          if (!truncated) "none"
          else if (limits.maxRows.exists(_ <= capInt)) "max_rows"
          else "max_bytes"
        (probeDf.limit(capInt), QueryStats(math.min(probe, capInt), truncated, reason))
    }
  }
}
