package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ClickHouse materialized views, Spark-native.
  *
  * In the reference a user creates `MATERIALIZED VIEW … ENGINE =
  * SummingMergeTree` via DDL passthrough; every INSERT then triggers the
  * view query over the inserted block only, appending *partial*
  * aggregates to the target table, which the engine merges at read
  * (FINAL) or compaction. The Spark-native equivalents of the three
  * moving parts:
  *
  *  - per-insert incremental maintenance → Structured Streaming
  *    `foreachBatch`: each micro-batch aggregates ONLY its own rows and
  *    appends the partials (MatViewSpec drives this across micro-batches
  *    with a MemoryStream);
  *  - the partial-sum target table → any append sink (parquet dir, the
  *    connector table); appends are tiny (one row per touched key per
  *    batch), never a rewrite of accumulated state;
  *  - merge-at-read (FINAL) → [[mergeOnRead]]: re-aggregate the partials
  *    by key. Commutative+associative aggregates only (sum/count/min/
  *    max — the SummingMergeTree contract); avg ships as (sum, count).
  *
  * At 100 TB this is the same math that makes map-side partial
  * aggregation work: the partials table stays ~|keys|·|batches| rows,
  * and the read-side merge is one hash aggregate over it — the full
  * event history is never rescanned.
  */
object MatView {

  /** The view query applied to one slice (a micro-batch or, for the
    * batch anchor below, the whole table): partial sums per key.
    */
  def partials(slice: DataFrame): DataFrame =
    slice.groupBy(col("user_id"), col("event_type"))
      .agg(
        sum(col("value")).as("sum_value"),
        count(lit(1)).as("n"))

  /** Merge-on-read over accumulated partials (ClickHouse FINAL on a
    * SummingMergeTree target): same keys, partials re-summed.
    */
  def mergeOnRead(partialsTable: DataFrame): DataFrame =
    partialsTable.groupBy(col("user_id"), col("event_type"))
      .agg(
        round(sum(col("sum_value")), 6).as("sum_value"),
        sum(col("n")).as("n"))

  /** Attach incremental maintenance to a source stream: each
    * micro-batch's partials are handed to `appendSink` (idempotent by
    * batchId if the sink needs exactly-once).
    */
  def maintain(
      source: DataFrame,
      appendSink: (DataFrame, Long) => Unit,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) => appendSink(partials(batch), id) }
      .start()


}
