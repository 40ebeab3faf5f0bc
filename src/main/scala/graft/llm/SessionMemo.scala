package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-session DataFrame memoizer for the certification-contract exact
  * baselines ([[Dedup]] pair core, [[Similarity]] brute top-k / exact
  * pair set).
  *
  * Weakly keyed on the live [[SparkSession]] OBJECT: the previous
  * `System.identityHashCode(session)` keying could, after a session was
  * stopped and GC'd, hand a NEW session (whose identity hash collided)
  * a checkpointed DataFrame bound to the dead session — failing on
  * first use — and entries never evicted. With a [[java.util.WeakHashMap]]
  * (SparkSession keeps default identity equals/hashCode) the entry — and
  * the localCheckpoint blocks it pins — becomes collectable the moment
  * the session itself is.
  *
  * Locking: the outer WeakHashMap is touched only under `synchronized`
  * (cheap — map lookup, no Spark work); the per-session inner map is a
  * ConcurrentHashMap so a long-running compute (localCheckpoint runs a
  * job) blocks only same-key callers, as before.
  *
  * Liveness: a memoized frame is only reused while its checkpoint
  * blocks are still persisted. An external `unpersist()` sweep (the
  * Bench cross-query hygiene, or any caller mopping up cached RDDs)
  * drops the blocks out from under the entry, and a localCheckpointed
  * DataFrame CANNOT be recomputed after that — first use throws
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. So `getOrCompute` re-checks the
  * storage level of every LogicalRDD leaf in the memoized plan and
  * recomputes when any has been dropped, instead of handing back a
  * poisoned frame.
  */
/** RDD-id registry of every memo's frames, consulted by external
  * hygiene sweeps (graft.Bench): a memo's checkpoint blocks are
  * CONTRACT BASELINES or STANDING INDEXES whose amortization is the
  * measured operator's documented semantics — sweeping them between
  * bench reps would charge the baseline's build cost to every query
  * that merely certifies against it (the quadratic brute-force top-k
  * re-priced the PQ/LSH/IVF rows ~14x at sf1), while the baseline's
  * FULL cost already has a dedicated owner row that computes it
  * directly, bypassing the memo (`x_sim_topk_brute`, `x_dedup_embed`,
  * `x_dedup_ngram_jaccard` for the pair core, `x_dedup_cc_clusters`
  * for CC, `x_text_bpe_learn` for the BPE vocab). The liveness
  * re-check in [[SessionMemo.getOrCompute]] stays the safety net if a
  * sweep ignores the registry.
  */
object SessionMemo {
  // keys are (applicationId, rddId): RDD ids restart at 0 per
  // SparkContext, so a bare-int registry would let a stale id from a
  // stopped context exempt an unrelated RDD in a later one from the
  // sweep — exactly the leak class the sweep exists to drop
  private val pinnedIds = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()
  def isPinned(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    pinnedIds.contains((rdd.sparkContext.applicationId, rdd.id))
  private def keysOf(df: DataFrame): Seq[(String, Int)] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        (l.rdd.sparkContext.applicationId, l.rdd.id)
    }
  private def register(df: DataFrame): Unit = keysOf(df).foreach(pinnedIds.add(_))
  // recompute evicts the superseded frame's keys, so the registry stays
  // bounded by the number of live pinned frames per application (a
  // handful of contract baselines and standing indexes)
  private def unregister(df: DataFrame): Unit = keysOf(df).foreach(pinnedIds.remove(_))
}

final class SessionMemo[K] {
  private val perSession =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[K, DataFrame]]()

  private def mapFor(s: SparkSession) = synchronized {
    var m = perSession.get(s)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[K, DataFrame]()
      perSession.put(s, m)
    }
    m
  }

  /** True iff every checkpoint-backed leaf of the plan still has its
    * blocks persisted (plan walk + storage-level read — no Spark job).
    *
    * Only LOCALLY-checkpointed leaves are liveness-gated: their lineage
    * is truncated, so dropped blocks mean CHECKPOINT_RDD_BLOCK_ID_NOT_
    * FOUND on next use. A plain never-persisted LogicalRDD (storage
    * NONE but full lineage) is recomputable and must NOT be treated as
    * dead — doing so would silently recompute that shape on every
    * access, defeating the memo. A reliably-checkpointed RDD keeps its
    * data on stable storage regardless of block storage level.
    * (`isCheckpointed` + no checkpoint FILE is the public spelling of
    * locally-checkpointed: reliable checkpoints carry a file path.)
    */
  private def alive(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.forall(r => !(r.isCheckpointed && r.getCheckpointFile.isEmpty &&
      r.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE))

  def getOrCompute(s: SparkSession, key: K)(compute: => DataFrame): DataFrame =
    // compute (not computeIfAbsent): the remapping runs under the
    // per-key lock, so the alive() re-check and the recompute are
    // atomic with respect to same-key callers
    mapFor(s).compute(key, (_, prev) =>
      if (prev != null && alive(prev)) prev
      else {
        if (prev != null) SessionMemo.unregister(prev)
        val df = compute
        SessionMemo.register(df)
        df
      })
}
