package graft.llm

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.storage.StorageLevel

/** The round-10 advisor finding: Bench's cross-query hygiene unpersists
  * ALL persistent RDDs, which drops the blocks under the SessionMemo'd
  * localCheckpoint frames (Dedup pair core / CC, Similarity brute
  * baselines). A localCheckpointed DataFrame cannot be recomputed after
  * its blocks are gone — reuse throws CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
  * — so the memo must detect the drop and recompute, not hand back a
  * poisoned frame.
  */
class SessionMemoSpec extends SparkSpec {

  private def sweep(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("memo returns the SAME checkpointed frame while blocks are alive") {
    val memo = new SessionMemo[String]
    var computes = 0
    def get() = memo.getOrCompute(spark, "k") {
      computes += 1
      spark.range(100).toDF("v").localCheckpoint()
    }
    val a = get(); val b = get()
    assert(computes == 1)
    assert(a eq b)
    assert(b.count() == 100)
  }

  test("memo recomputes after an external unpersist sweep drops the blocks") {
    val memo = new SessionMemo[String]
    var computes = 0
    def get() = memo.getOrCompute(spark, "k") {
      computes += 1
      spark.range(100).toDF("v").localCheckpoint()
    }
    get()
    sweep()
    val after = get()
    assert(computes == 2, "dropped blocks must trigger a recompute")
    // the recomputed frame is usable, not a poisoned checkpoint
    assert(after.count() == 100)
  }

  test("memo-backed registry queries survive the Bench hygiene sweep (end-to-end)") {
    // the exact queries the round-10 bench corrupted: each reuses a
    // SessionMemo'd localCheckpoint; run → sweep → run must NOT throw
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND and must return identical results
    val names = Seq("x_dedup_ngram_jaccard", "x_dedup_cc_keepers", "x_sim_topk_ivf")
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      val before = fn(spark, sf001).collect().toSet
      sweep()
      val afterSweep = fn(spark, sf001).collect().toSet
      assert(afterSweep == before, s"$n changed results after the unpersist sweep")
    }
  }

  test("alive() only inspects checkpoint leaves — plain plans always reuse") {
    val memo = new SessionMemo[String]
    var computes = 0
    def get() = memo.getOrCompute(spark, "plain") {
      computes += 1
      spark.range(10).toDF("v") // no checkpoint: nothing to invalidate
    }
    get(); sweep(); get()
    assert(computes == 1)
  }

  test("pin = true registers checkpoint RDD ids; a pin-aware sweep keeps the memo") {
    val memo = new SessionMemo[String]
    var computes = 0
    def get() = memo.getOrCompute(spark, "pinned") {
      computes += 1
      spark.range(100).toDF("v").localCheckpoint()
    }
    val df = get()
    def leaves(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
    val rdds = leaves(df)
    assert(rdds.nonEmpty && rdds.forall(SessionMemo.isPinned),
      "pinned memo must register every checkpoint leaf")
    // the Bench sweep shape: unpersist everything EXCEPT pinned frames
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => SessionMemo.isPinned(r))
      .foreach(_.unpersist(false))
    get()
    assert(computes == 1, "a pin-aware sweep must not force a recompute")
    // an ignore-the-registry sweep still cannot poison it (safety net)
    sweep()
    val after = get()
    assert(computes == 2)
    assert(after.count() == 100)
    // ...and the recompute evicted the superseded frame's keys (the
    // registry stays bounded by live pinned frames)
    assert(!rdds.exists(SessionMemo.isPinned),
      "stale keys must be unregistered on recompute")
    val newRdds = leaves(after)
    assert(newRdds.nonEmpty && newRdds.forall(SessionMemo.isPinned))
  }

  test("checkpoint storage level drops to NONE after the sweep (assumption pin)") {
    // pins the mechanism the liveness check relies on: localCheckpoint
    // persists blocks; unpersist drops the level to NONE
    val df = spark.range(10).toDF("v").localCheckpoint()
    val rdds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(rdds.nonEmpty)
    assert(rdds.forall(_.getStorageLevel != StorageLevel.NONE))
    sweep()
    assert(rdds.forall(_.getStorageLevel == StorageLevel.NONE))
  }
}
