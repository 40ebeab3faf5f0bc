package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-injection for the fused nightly capstone's admit → append →
  * merge batch step (VERDICT r17 next-#4: `x_pipe_daily` composes
  * transactional pieces but was never killed between stages). The spec
  * replays ONE capstone batch — dedup admission via the committed
  * artifact's doc set, one-flip BM25 append, composed-ANN merge —
  * killed at each of the transactional windows, then RESTARTED (the
  * stream's checkpoint semantics: an uncommitted foreachBatch re-runs
  * whole), and pins the fixed point: the replayed artifact is
  * value-identical to an uncrashed run's, admission is idempotent
  * (nothing double-indexes), and the ANN merge half is replay-stable.
  */
class PipeDailyCrashSpec extends SparkSpec {

  private def postingsSet(path: String) =
    TextOps.loadBm25Postings(spark, path)
      .select("doc_id", "term", "tf", "dl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

  private def freshState(docs: DataFrame, tag: String): String = {
    val slice = pmod(col("doc_id"), lit(5L))
    val standing = docs.where(slice =!= 0)
    val p0 = TextOps.bm25Postings(standing).localCheckpoint()
    val ts0 = p0.groupBy("term").agg(count(lit(1)).as("df"))
    val r0 = p0.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl")).collect()(0)
    val path = java.nio.file.Files.createTempDirectory(s"graft_pipecrash_$tag").toString + "/idx"
    TextOps.saveBm25State(path, p0, ts0, r0.getLong(0), r0.getLong(1))
    path
  }

  test("capstone batch step killed at every transactional window replays to the uncrashed fixed point") {
    val docs = graft.Tables.t(spark, sf0001, "documents").select("doc_id", "text")
    val slice = pmod(col("doc_id"), lit(5L))
    // today's landing: the held-out slice plus exact twins of standing
    // docs — the admission gate must drop the twins via the COMMITTED
    // doc set, on the first run and on every replay
    val batch = docs.where(slice === 0)
      .unionByName(docs.where(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      .localCheckpoint()

    // the uncrashed fixed point
    val ref = freshState(docs, "ref")
    TextOps.appendBm25Index(spark, ref, batch)
    val want = postingsSet(ref)
    val wantMeta = IndexStore.readMeta(spark, s"$ref/state")

    val hooks: Seq[(String, () => Unit, () => Unit)] = Seq(
      ("after-pool",
        () => IndexStore.appendHookAfterPool = () => throw new RuntimeException("boom"),
        () => IndexStore.appendHookAfterPool = () => ()),
      ("before-flip",
        () => IndexStore.commitHookBeforeFlip = () => throw new RuntimeException("boom"),
        () => IndexStore.commitHookBeforeFlip = () => ()),
      ("mid-flip",
        () => IndexStore.commitHookMidFlip = () => throw new RuntimeException("boom"),
        () => IndexStore.commitHookMidFlip = () => ()))

    hooks.foreach { case (tag, arm, disarm) =>
      val live = freshState(docs, tag)
      arm()
      try intercept[RuntimeException] {
        TextOps.appendBm25Index(spark, live, batch)
      } finally disarm()
      // restart: the stream re-runs the whole uncommitted batch
      TextOps.appendBm25Index(spark, live, batch)
      assert(postingsSet(live) == want,
        s"$tag: replayed artifact diverged from the uncrashed fixed point")
      val meta = IndexStore.readMeta(spark, s"$live/state")
      assert(meta("n") == wantMeta("n") && meta("sumDl") == wantMeta("sumDl"),
        s"$tag: scalars diverged after replay")
      // idempotence: a SECOND replay (double restart) appends nothing
      TextOps.appendBm25Index(spark, live, batch)
      assert(postingsSet(live) == want, s"$tag: double replay double-indexed")
    }

    // the ANN half of the capstone batch: merging the admitted batch
    // under the standing model is replay-stable (vid-deduped), so a
    // restarted batch cannot double-insert vectors either
    val emb = graft.Tables.t(spark, sf0001, "embeddings")
    val c = emb.select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("cv"))
    val ivfPq = AnnFamily.IvfPq
    val model = ivfPq.train(c, Similarity.densityNlist(emb.count()))
    val standingIdx = ivfPq.encode(c.where(pmod(col("vid"), lit(5L)) =!= 0), model)
      .localCheckpoint()
    val admVec = c.where(pmod(col("vid"), lit(5L)) === 0)
    val once = Similarity.mergeIndex(ivfPq, standingIdx, admVec, model).localCheckpoint()
    val twice = Similarity.mergeIndex(ivfPq, once, admVec, model).localCheckpoint()
    val diverged = twice.withColumn("m", lit(1))
      .join(once.withColumn("r", lit(1)), Seq("vid", "cell", "codes"), "full")
      .where(col("m").isNull || col("r").isNull).count()
    assert(diverged == 0,
      s"ANN merge must be replay-idempotent on the admitted batch ($diverged rows)")
  }
}
