package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** ClickHouse behavioral-analytics aggregates — `windowFunnel`,
  * `retention`, `sequenceMatch`, `topK` — the parametric-aggregate
  * surface a reference user reaches through SQL passthrough
  * (`clickhouse-arrow/src/client.rs:643`; the types ride
  * `Type::AggregateFunction`, `src/native/types.rs:120-126`).
  *
  * Scale design: every operator here is one shuffle on `user_id` (high
  * cardinality — 100-TB safe, no low-cardinality partition keys).
  * `retention` is a plain partial+final hash aggregate. The funnel /
  * sequence state machines run in a typed `mapGroups` kernel (plain JIT'd
  * Scala — no interpreted HOF tax): events are pre-filtered map-side to
  * the step-relevant subset BEFORE the shuffle, so per-group state is
  * bounded by one user's step events, the same per-key working set
  * ClickHouse's own windowFunnel holds.
  */
object Analytics {

  /** Funnel state machine shared by windowFunnel and sequenceMatch.
    * Semantics (= CH `windowFunnel(window, 'strict_increase')(ts, c1..cL)`):
    * the max level L' such that events matching steps 1..L' occur at
    * strictly increasing timestamps with (t_L' - t_1) <= windowMicros.
    * We pin `strict_increase` rather than CH's default mode because the
    * default may advance the chain across events SHARING a timestamp in
    * whatever order the engine happens to visit them — a nondeterministic
    * result by construction. Strict advancement is deterministic and is
    * what the paired oracles assert (`b.us > a.us`). Greedy earliest-next
    * per chain start is optimal for a fixed start (exchange argument), so
    * scanning all step-1 starts is exact.
    */
  private[operators] object FunnelKernel extends Serializable {
    def level(steps: Array[Array[Long]], windowMicros: Long): Int = {
      if (steps.isEmpty || steps(0).isEmpty) return 0
      var best = 1
      val starts = steps(0)
      var s = 0
      while (s < starts.length && best < steps.length) {
        val t1 = starts(s)
        val limit = if (windowMicros == Long.MaxValue) Long.MaxValue
                    else t1 + windowMicros
        var cur = t1
        var lvl = 1
        var l = 1
        while (l < steps.length) {
          // smallest time in step l that is > cur and <= limit
          val arr = steps(l)
          var lo = 0; var hi = arr.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (arr(mid) <= cur) lo = mid + 1 else hi = mid
          }
          if (lo < arr.length && arr(lo) <= limit) { cur = arr(lo); lvl += 1; l += 1 }
          else l = steps.length
        }
        if (lvl > best) best = lvl
        s += 1
      }
      best
    }
  }

  /** Per-user funnel level over `stepTypes` within `windowMicros` of the
    * chain start. Output: (user_id, funnel_level) for every user with at
    * least one step-relevant event.
    */
  def windowFunnel(events: DataFrame, stepTypes: Seq[String], windowMicros: Long): DataFrame = {
    val stepIdx = stepTypes.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (tpe, i)) =>
        when(col("event_type") === tpe, lit(i)).otherwise(acc)
      }
    val nSteps = stepTypes.length
    val typed = events
      .filter(col("event_type").isInCollection(stepTypes)) // map-side prune, pre-shuffle
      .select(col("user_id").cast("long"), unix_micros(col("ts")), stepIdx.cast("int"))
      .as[(Long, Long, Int)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaInt))
    typed.groupByKey(_._1)(Encoders.scalaLong)
      .mapGroups { (uid, it) =>
        val byStep = Array.fill(nSteps)(scala.collection.mutable.ArrayBuffer.empty[Long])
        it.foreach { case (_, us, step) => byStep(step) += us }
        val sorted = byStep.map { b => val a = b.toArray; java.util.Arrays.sort(a); a }
        (uid, FunnelKernel.level(sorted, windowMicros))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt))
      .toDF("user_id", "funnel_level")
  }

  /** `windowFunnel(..., 'strict_dedup')` kernel: advancing stops the
    * moment an ALREADY-MATCHED step repeats before the next step — a
    * re-fired "view" between "click" and "purchase" interrupts the
    * chain (CH's strict_dedup contract). Input: the user's step events
    * as parallel (ts, step) arrays, time-ordered with ties broken by
    * step index. Scans every chain start; O(starts × events), bounded
    * by one user's step events.
    */
  private[operators] object StrictDedupKernel extends Serializable {
    def level(ts: Array[Long], steps: Array[Int], nSteps: Int, windowMicros: Long): Int = {
      if (ts.isEmpty) return 0
      var best = 0
      var s = 0
      while (s < ts.length && best < nSteps) {
        if (steps(s) == 0) {
          val t0 = ts(s)
          var lvl = 1
          var lastT = t0
          var i = s + 1
          var broken = false
          while (!broken && lvl < nSteps && i < ts.length && ts(i) - t0 <= windowMicros) {
            val st = steps(i)
            if (st == lvl && ts(i) > lastT) { lvl += 1; lastT = ts(i) }
            else if (st < lvl && ts(i) > lastT) broken = true // matched step re-fired
            i += 1
          }
          if (lvl > best) best = lvl
        }
        s += 1
      }
      best
    }
  }

  /** strict_dedup funnel over a DataFrame — same shuffle/prune shape as
    * the base funnel, different kernel. */
  def windowFunnelStrictDedup(
      events: DataFrame, stepTypes: Seq[String], windowMicros: Long): DataFrame = {
    val stepIdx = stepTypes.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (tpe, i)) =>
        when(col("event_type") === tpe, lit(i)).otherwise(acc)
      }
    val nSteps = stepTypes.length
    events
      .filter(col("event_type").isInCollection(stepTypes))
      .select(col("user_id").cast("long"), unix_micros(col("ts")), stepIdx.cast("int"))
      .as[(Long, Long, Int)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaInt))
      .groupByKey(_._1)(Encoders.scalaLong)
      .mapGroups { (uid, it) =>
        val evs = it.toArray.sortBy(e => (e._2, e._3))
        (uid, StrictDedupKernel.level(
          evs.map(_._2), evs.map(_._3), nSteps, windowMicros))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt))
      .toDF("user_id", "funnel_level")
  }

  /** `windowFunnel(... , 'strict_order')`: the chain breaks if any OTHER
    * listed step interleaves — level L needs steps 1..L to appear as a
    * CONTIGUOUS run in the user's step-event sequence (time-ordered,
    * ties broken by step index). Same shuffle shape as the base funnel;
    * the per-user scan is O(|events|) after one sort.
    */
  def windowFunnelStrict(events: DataFrame, stepTypes: Seq[String]): DataFrame = {
    val stepIdx = stepTypes.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (tpe, i)) =>
        when(col("event_type") === tpe, lit(i)).otherwise(acc)
      }
    val nSteps = stepTypes.length
    events
      .filter(col("event_type").isInCollection(stepTypes))
      .select(col("user_id").cast("long"), unix_micros(col("ts")), stepIdx.cast("int"))
      .as[(Long, Long, Int)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaInt))
      .groupByKey(_._1)(Encoders.scalaLong)
      .mapGroups { (uid, it) =>
        val seq = it.map { case (_, us, step) => (us, step) }.toArray
        java.util.Arrays.sort(seq, Ordering.by((p: (Long, Int)) => p))
        var best = 0
        var i = 0
        while (i < seq.length) {
          if (seq(i)._2 == 0) {
            var lvl = 1
            var j = i + 1
            while (j < seq.length && lvl < nSteps && seq(j)._2 == lvl) { lvl += 1; j += 1 }
            if (lvl > best) best = lvl
          }
          i += 1
        }
        (uid, best)
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt))
      .toDF("user_id", "funnel_level")
  }

  /** CH `retention(c1, .., cN)`: per user, r1 = saw c1; r_i = saw c1 AND
    * c_i. One partial+final hash aggregate, scalar flags (no array output
    * so the oracle canonicalizer can sort rows).
    */
  def retention(events: DataFrame, conds: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val saw = conds.zipWithIndex.map { case (c, i) =>
      max(when(c, 1).otherwise(0)).as(s"saw_$i")
    }
    val flags = events.groupBy(col("user_id")).agg(saw.head, saw.tail: _*)
    val r = (0 until conds.length).map { i =>
      if (i == 0) col("saw_0").as("r1")
      else (col("saw_0") * col(s"saw_$i")).as(s"r${i + 1}")
    }
    flags.select(col("user_id") +: r: _*)
  }

  /** Largest-Triangle-Three-Buckets downsampling kernel (CH
    * `largestTriangleThreeBuckets`): always keeps the first and last
    * point; buckets the interior into `threshold-2` ranges and keeps, per
    * bucket, the point maximizing the triangle area formed with the
    * previously kept point and the NEXT bucket's centroid (Steinarsson
    * 2013, public algorithm). Plain JIT'd loops — no interpreted HOFs.
    */
  private[operators] object LttbKernel extends Serializable {
    def select(ts: Array[Double], vs: Array[Double], threshold: Int): Array[Int] = {
      val n = ts.length
      if (threshold >= n || threshold < 3) return Array.range(0, n)
      val out = new Array[Int](threshold)
      out(0) = 0
      val every = (n - 2).toDouble / (threshold - 2)
      var a = 0
      var i = 0
      while (i < threshold - 2) {
        val bs = (i * every).toInt + 1
        val be = math.min(((i + 1) * every).toInt + 1, n - 1)
        val ns = be
        val ne = math.min(((i + 2) * every).toInt + 1, n)
        var cx = 0.0
        var cy = 0.0
        var k = ns
        while (k < ne) { cx += ts(k); cy += vs(k); k += 1 }
        val m = math.max(ne - ns, 1)
        cx /= m
        cy /= m
        var best = -1.0
        var bi = bs
        var j = bs
        while (j < be) {
          val area = math.abs(
            (ts(a) - cx) * (vs(j) - vs(a)) - (ts(a) - ts(j)) * (cy - vs(a)))
          if (area > best) { best = area; bi = j }
          j += 1
        }
        out(i + 1) = bi
        a = bi
        i += 1
      }
      out(threshold - 1) = n - 1
      out
    }
  }
}
