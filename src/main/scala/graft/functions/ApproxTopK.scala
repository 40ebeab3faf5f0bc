package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Approximate top-k frequent values — the ClickHouse `topK(k)(col)`
  * aggregate (surface reached through SQL passthrough,
  * `clickhouse-arrow/src/client.rs:643`; CH implements it with the same
  * SpaceSaving summary this does).
  *
  * Mergeable SpaceSaving sketch (Metwally et al., "Efficient computation
  * of frequent and top-k elements in data streams", ICDT 2005): at most
  * `capacity` counters; an unseen value arriving at a full summary evicts
  * the minimum counter and inherits its count (+1), recording that count
  * as the new entry's max overestimation error. Guarantees:
  *
  *  - counts are exact (err = 0) whenever the true NDV ≤ capacity;
  *  - otherwise each estimate overestimates by at most its `err`, and
  *    any value with true frequency > N/capacity is retained.
  *
  * Spark-side design: this is an `Aggregator`, so Catalyst plans it as a
  * partial (per-partition summary) + final merge — the map side sends at
  * most `capacity` counters per partition, never the raw column. Merge
  * sums matching counters (and errors) and re-trims to capacity — the
  * standard mergeable-summaries composition, exact in the NDV ≤ capacity
  * regime, bounded-error otherwise (asserted in ApproxTopKSpec).
  */
object ApproxTopK {

  final case class TopKEntry(value: String, cnt: Long, err: Long)

  /** counters: value → (estimated count, max overestimation) */
  type Summary = Map[String, (Long, Long)]

  /** Add `w` occurrences of `v` (SpaceSaving admits arbitrary positive
    * increments — CH `topKWeighted` uses exactly this). */
  private def bump(b: Summary, v: String, w: Long, capacity: Int): Summary = b.get(v) match {
    case Some((c, e)) => b.updated(v, (c + w, e))
    case None if b.size < capacity => b.updated(v, (w, 0L))
    case None =>
      // evict the min counter; the newcomer inherits its count as error
      val (minKey, (minCnt, _)) = b.minBy { case (key, (c, _)) => (c, key) }
      (b - minKey).updated(v, (minCnt + w, minCnt))
  }

  private def mergeSummaries(b1: Summary, b2: Summary, capacity: Int): Summary = {
    val combined = (b1.keySet ++ b2.keySet).iterator.map { key =>
      val (c1, e1) = b1.getOrElse(key, (0L, 0L))
      val (c2, e2) = b2.getOrElse(key, (0L, 0L))
      key -> (c1 + c2, e1 + e2)
    }.toMap
    if (combined.size <= capacity) combined
    else combined.toSeq
      .sortBy { case (key, (c, _)) => (-c, key) }
      .take(capacity).toMap
  }

  /** Deterministic output order: count desc, then value asc (ties at
    * the k boundary resolve identically on the engine and the oracle).
    */
  private def finishTop(b: Summary, k: Int): Seq[TopKEntry] =
    b.toSeq
      .sortBy { case (key, (c, _)) => (-c, key) }
      .take(k)
      .map { case (key, (c, e)) => TopKEntry(key, c, e) }

  final class SpaceSavingTopK(k: Int, capacity: Int)
      extends Aggregator[String, Summary, Seq[TopKEntry]] {
    require(k <= capacity, "k must be <= capacity")
    override def zero: Summary = Map.empty
    override def reduce(b: Summary, v: String): Summary = bump(b, v, 1L, capacity)
    override def merge(b1: Summary, b2: Summary): Summary = mergeSummaries(b1, b2, capacity)
    override def finish(b: Summary): Seq[TopKEntry] = finishTop(b, k)
    override def bufferEncoder: Encoder[Summary] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[TopKEntry]] = ExpressionEncoder()
  }

  /** CH `topKWeighted(k)(value, weight)` — same summary, increments by
    * the weight column instead of 1. */
  final class SpaceSavingTopKWeighted(k: Int, capacity: Int)
      extends Aggregator[(String, Long), Summary, Seq[TopKEntry]] {
    require(k <= capacity, "k must be <= capacity")
    override def zero: Summary = Map.empty
    override def reduce(b: Summary, v: (String, Long)): Summary = bump(b, v._1, v._2, capacity)
    override def merge(b1: Summary, b2: Summary): Summary = mergeSummaries(b1, b2, capacity)
    override def finish(b: Summary): Seq[TopKEntry] = finishTop(b, k)
    override def bufferEncoder: Encoder[Summary] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[TopKEntry]] = ExpressionEncoder()
  }

  def topK(k: Int, capacity: Int): SpaceSavingTopK = new SpaceSavingTopK(k, capacity)

  def topKWeighted(k: Int, capacity: Int): SpaceSavingTopKWeighted =
    new SpaceSavingTopKWeighted(k, capacity)
}
