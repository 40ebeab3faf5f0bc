package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Distributed running totals over a value spectrum — the two-phase
  * prefix-sum that replaces `Window.orderBy(v)` with NO partition spec
  * (Spark executes that as ONE task holding the whole ordered input: the
  * classic quiet scale-killer behind "No Partition Defined for Window"
  * warnings; reference CH computes cumulative spectra inside its
  * sorted-aggregation core instead).
  *
  * Shape: range-partition by the order column (a global sort boundary,
  * same shuffle a global window needs anyway), local sort + ONE streaming
  * cumulative pass WITHIN each range in parallel, then add each
  * partition's starting offset — the offsets come from a
  * #partitions-sized frame (bounded, broadcast). Results are bit-identical
  * to the single-task global window; wall-clock parallelism is
  * #partitions instead of 1.
  *
  * r15: the in-partition cumulative used to be a window partitioned on
  * (__pid, partCols) — which re-SHUFFLED the whole spectrum on those
  * keys (Catalyst cannot know __pid already equals the physical
  * partition id). It is now a `sortWithinPartitions` + `mapPartitions`
  * streaming pass: zero exchanges after the range shuffle. And
  * [[aggregateWithRunningSums]] builds the spectrum itself ON the range
  * exchange — `RangePartitioning(partCols :+ orderCol)` satisfies the
  * group-by's clustered distribution, so the usual
  * `groupBy(...).agg(...)` hash shuffle before the walk disappears too.
  */
object Spectrum {

  /** Add `outCol` = running (inclusive) sum of `sumCol` in `orderCol`
    * order, optionally per `partCols` group. `(partCols, orderCol)`
    * should be distinct across rows (a spectrum: one row per value) so
    * range boundaries can't split ties.
    *
    * Float note: reordering double addition is only safe when the
    * summands are integer-valued (counts cast to double — exact in IEEE
    * up to 2^53); true fractional weights could drift a ulp vs the
    * sequential window. Every call site here sums counts/quantities.
    */
  /** Multi-column form: each `(sumCol, outCol)` pair gets its running
    * sum from the SAME single range shuffle and offsets pass. */
  def withRunningSums(
      df: DataFrame,
      partCols: Seq[String],
      orderCol: String,
      sums: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val pc = partCols.map(col)
    // an explicit numPartitions keeps AQE from re-coalescing the range
    // partitions after __pid is computed
    runningSumsRanged(df.repartitionByRange(n, pc :+ col(orderCol): _*),
      partCols, orderCol, sums)
  }

  def withRunningSum(
      df: DataFrame, partCols: Seq[String], orderCol: String,
      sumCol: String, outCol: String): DataFrame =
    withRunningSums(df, partCols, orderCol, Seq(sumCol -> outCol))

  def withRunningSum(
      df: DataFrame, orderCol: String, sumCol: String, outCol: String): DataFrame =
    withRunningSums(df, Nil, orderCol, Seq(sumCol -> outCol))

  /** Build the distinct-(partCols, orderCol) SPECTRUM and its running
    * sums from ONE corpus shuffle: range-partition the RAW rows, then
    * aggregate on that exchange — `RangePartitioning` over exactly the
    * grouping columns satisfies the aggregate's clustered distribution,
    * so Catalyst inserts no second exchange — then walk. The fused form
    * of `df.groupBy(part, order).agg(...)` + [[withRunningSums]], which
    * pays a corpus hash shuffle AND a spectrum range shuffle.
    *
    * @param aggs spectrum measures as (aggregate expression, out name)
    * @param sums running sums over those measures, (measure, out name)
    */
  def aggregateWithRunningSums(
      raw: DataFrame,
      partCols: Seq[String],
      orderCol: String,
      aggs: Seq[(Column, String)],
      sums: Seq[(String, String)]): DataFrame = {
    val spark = raw.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val pc = partCols.map(col)
    val ranged = raw.repartitionByRange(n, pc :+ col(orderCol): _*)
    val named = aggs.map { case (e, nm) => e.as(nm) }
    val spec = ranged.groupBy(pc :+ col(orderCol): _*).agg(named.head, named.tail: _*)
    runningSumsRanged(spec, partCols, orderCol, sums)
  }

  /** The walk over an already-range-partitioned spectrum: per-partition
    * offsets from a bounded aggregate (map-side partials make its
    * exchange #partitions × #groups rows), broadcast back, then a local
    * sort + one JIT-friendly streaming accumulation per partition —
    * bit-identical to the global window (same ascending add order; the
    * offset lands in one final add, exactly where the old
    * `off + sum().over(window)` added it). */
  private def runningSumsRanged(
      spec: DataFrame,
      partCols: Seq[String],
      orderCol: String,
      sums: Seq[(String, String)]): DataFrame = {
    val pc = partCols.map(col)
    val withPid = spec.withColumn("__pid", spark_partition_id())
    // #partitions × #groups-crossing rows — the only window left, over a
    // bounded frame
    val offW =
      (if (partCols.isEmpty) Window.orderBy(col("__pid"))
       else Window.partitionBy(pc: _*).orderBy(col("__pid")))
        .rowsBetween(Window.unboundedPreceding, -1)
    val psums = sums.flatMap { case (s, _) =>
      Seq(sum(col(s)).as(s"__psum_$s"),
        // non-null count per (partition, group): lets each later partition
        // know whether the group's PREFIX held any non-null measure — the
        // coalesce below erases that (0 ≡ "no prior non-null"), and the
        // window running sum is NULL only until the first non-null
        count(col(s)).as(s"__pcnt_$s"))
    }
    val offsets = withPid.groupBy(col("__pid") +: pc: _*)
      .agg(psums.head, psums.tail: _*)
      .select(
        (col("__pid") +: pc) ++ sums.flatMap { case (s, _) =>
          Seq(coalesce(sum(col(s"__psum_$s")).over(offW), lit(0)).as(s"__off_$s"),
            (coalesce(sum(col(s"__pcnt_$s")).over(offW), lit(0L)) > 0).as(s"__seen_$s"))
        }: _*)
    // broadcast join is narrow: the streamed side keeps the range
    // partitions (and __pid stays the physical partition id — everything
    // from the exchange to the streaming pass is one stage)
    val joined = withPid.join(broadcast(offsets), "__pid" +: partCols)
    val sorted = joined.sortWithinPartitions(pc :+ col(orderCol): _*)
    val inSchema = sorted.schema
    val nSums = sums.size
    val sumIdx = sums.map { case (s, _) => inSchema.fieldIndex(s) }.toArray
    val offIdx = sums.map { case (s, _) => inSchema.fieldIndex(s"__off_$s") }.toArray
    val seenIdx = sums.map { case (s, _) => inSchema.fieldIndex(s"__seen_$s") }.toArray
    val pidIdx = inSchema.fieldIndex("__pid")
    val pcIdx = partCols.map(inSchema.fieldIndex).toArray
    val isLong = sumIdx.map { i =>
      inSchema(i).dataType match {
        case LongType => true
        case DoubleType => false
        case other => throw new IllegalArgumentException(
          s"Spectrum running sums support long/double measures, got $other " +
            s"for ${inSchema(i).name} — cast the measure first")
      }
    }
    val outSchema = StructType(inSchema.fields ++ sums.zipWithIndex.map {
      case ((_, out), i) => StructField(out, inSchema(sumIdx(i)).dataType, nullable = true)
    })
    val nKeys = pcIdx.length
    val cum = sorted.mapPartitions { it =>
      val accL = new Array[Long](nSums)
      val accD = new Array[Double](nSums)
      // NULL-faithful to the windowed form this pass replaced: a window
      // running sum is NULL until the group PREFIX holds a non-null
      // measure, so track first-non-null per measure instead of silently
      // emitting 0-based numbers. The prefix spans partitions: a group
      // whose earlier range partitions already held non-nulls starts
      // seen (from the offsets frame's __seen_ flag), not null.
      val seen = new Array[Boolean](nSums)
      // group-change detection on cached key fields — no per-row Seq
      // allocations in the corpus-sized streaming loop
      val curKey = new Array[Any](nKeys)
      var first = true
      // the offsets were computed per STAMPED __pid; the walk is only
      // correct while each invocation of this function still sees
      // exactly one stamped partition's rows. That holds today
      // (broadcast join + sortWithinPartitions are narrow — and it
      // keeps holding under a downstream narrow coalesce, which runs
      // this function once per PARENT partition), but a future plan
      // change inserting an exchange here would corrupt sums SILENTLY
      // by interleaving rows of different stamps into one invocation —
      // so every row asserts its stamp against the invocation's first
      // (one int compare; fails loudly, never wrong). NOT compared to
      // TaskContext.getPartitionId(): under coalesce the task id
      // differs from the parent partition index while the walk is
      // still correct.
      var invocationPid = Int.MinValue
      it.map { row =>
        if (invocationPid == Int.MinValue) invocationPid = row.getInt(pidIdx)
        else if (row.getInt(pidIdx) != invocationPid)
          throw new IllegalStateException(
            s"Spectrum walk invariant broken: rows stamped __pid=$invocationPid and " +
              s"__pid=${row.getInt(pidIdx)} reached one streaming pass — an exchange " +
              "moved rows between the partition-id stamp and the cumulative walk")
        var changed = first
        var kI = 0
        while (kI < nKeys && !changed) {
          if (row.get(pcIdx(kI)) != curKey(kI)) changed = true
          kI += 1
        }
        if (changed) {
          var j = 0
          while (j < nKeys) { curKey(j) = row.get(pcIdx(j)); j += 1 }
          first = false
          java.util.Arrays.fill(accL, 0L); java.util.Arrays.fill(accD, 0.0)
          var sI = 0
          while (sI < nSums) { seen(sI) = row.getBoolean(seenIdx(sI)); sI += 1 }
        }
        val outs = new Array[Any](nSums)
        var i = 0
        while (i < nSums) {
          if (isLong(i)) {
            if (!row.isNullAt(sumIdx(i))) { accL(i) += row.getLong(sumIdx(i)); seen(i) = true }
            outs(i) = if (seen(i)) accL(i) + row.getLong(offIdx(i)) else null
          } else {
            if (!row.isNullAt(sumIdx(i))) { accD(i) += row.getDouble(sumIdx(i)); seen(i) = true }
            outs(i) = if (seen(i)) accD(i) + row.getDouble(offIdx(i)) else null
          }
          i += 1
        }
        Row.fromSeq(row.toSeq ++ outs)
      }
    }(Encoders.row(outSchema))
    cum.drop("__pid" +: sums.flatMap { case (s, _) =>
      Seq(s"__off_$s", s"__seen_$s") }: _*)
  }
}
