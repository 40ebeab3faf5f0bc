package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-atomic disk APPENDS for every standing ANN/band family (r17
  * verdict weak-#1: `IndexStore.append` used to write parquet directly
  * into the live layout — a crash mid-append left a partial batch's
  * part-files visible and UNDETECTABLE; the BM25 chain closed exactly
  * this class in r16 and these five chains now ride the same
  * pool-segment + manifest + one-flip-commit protocol, generalized into
  * IndexStore itself).
  *
  * Per family, the append is killed at all three windows of the commit
  * protocol:
  *   A. after the batch's pool segment lands, before its generation
  *      commits — the exact window the old in-place append corrupted;
  *   B. generation fully staged, pointer not yet flipped;
  *   C. inside the pointer flip's delete→rename window.
  * After A/B the artifact must serve EXACTLY the pre-append rows (the
  * partial batch invisible but DETECTABLE as an orphan pool segment);
  * after C the new complete generation serves build ∪ batch exactly
  * once (the fallback resolution). [[IndexStore.verifyManifest]] must
  * hold at every point (manifest row counts vs disk), and the next
  * successful commits must reclaim the crash orphans under the
  * one-generation-grace sweep.
  */
class IndexStoreCrashSpec extends SparkSpec {

  private def assertSame(label: String, tag: String, expected: DataFrame): Unit = {
    // align by name: partition columns come back LAST from parquet
    val got = IndexStore.load(spark, labelPath(label))
      .select(expected.columns.map(col).toIndexedSeq: _*)
    val extra = got.exceptAll(expected).count()
    val missing = expected.exceptAll(got).count()
    assert(extra == 0 && missing == 0,
      s"$label/$tag: served rows diverged (+$extra/-$missing)")
  }

  private def labelPath(label: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_crash_$label/idx"

  /** The three-window crash drive, shared by all five chains. */
  private def chainSurvivesCrashes(label: String, build: DataFrame,
      batch: DataFrame, meta: Map[String, String], parts: Seq[String],
      aux: Map[String, DataFrame] = Map.empty,
      modelCheck: () => Unit = () => ()): Unit = {
    val root = new java.io.File(labelPath(label)).getParentFile
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    val path = labelPath(label)
    val b = build.localCheckpoint()
    val a = batch.localCheckpoint()
    IndexStore.save(b, path, meta, parts, aux)
    modelCheck()

    // A: pool segment landed, generation never commits
    IndexStore.appendHookAfterPool = () => throw new RuntimeException("boom-pool")
    try intercept[RuntimeException](IndexStore.append(a, path))
    finally IndexStore.appendHookAfterPool = () => ()
    assertSame(label, "crash-after-pool", b)
    IndexStore.verifyManifest(spark, path)
    assert(IndexStore.orphanPoolDirs(spark, path).nonEmpty,
      s"$label: a crashed append must be DETECTABLE as an orphan segment")

    // B: generation staged (manifest names the new segment), pointer old
    IndexStore.commitHookBeforeFlip = () => throw new RuntimeException("boom-preflip")
    try intercept[RuntimeException](IndexStore.append(a, path))
    finally IndexStore.commitHookBeforeFlip = () => ()
    assertSame(label, "crash-before-flip", b)
    IndexStore.verifyManifest(spark, path)

    // C: inside the flip — resolution falls back to the new complete
    // generation; the batch is present EXACTLY once
    IndexStore.commitHookMidFlip = () => throw new RuntimeException("boom-midflip")
    try intercept[RuntimeException](IndexStore.append(a, path))
    finally IndexStore.commitHookMidFlip = () => ()
    val merged = b.unionByName(a)
    assertSame(label, "crash-mid-flip", merged)
    IndexStore.verifyManifest(spark, path)
    modelCheck()

    // the crash leftovers (A and B's segments, B's staged generation)
    // are reclaimed by the next successful commits — one generation of
    // grace each, never out from under a reader of the prior snapshot
    val crashOrphans = IndexStore.orphanPoolDirs(spark, path).toSet
    assert(crashOrphans.nonEmpty, s"$label: expected crash orphans before compaction")
    IndexStore.compact(spark, path)
    assertSame(label, "after-compact", merged)
    IndexStore.verifyManifest(spark, path)
    assert(IndexStore.orphanPoolDirs(spark, path).toSet.intersect(crashOrphans).isEmpty,
      s"$label: crash orphans survived a successful commit's sweep")
    // aux model state rode through append + compact carry-forward
    modelCheck()
    // and the artifact still cold-loads from metadata alone
    val fresh = spark.newSession()
    assert(IndexStore.load(fresh, path).count() == merged.count(),
      s"$label: cold reload row count diverged")
  }

  private lazy val emb = graft.Tables.t(spark, sf0001, "embeddings")
  private def corpus = emb.select(col("vec_id").as("vid"),
    col("embedding").cast("array<double>").as("cv"))
  private def slice = pmod(col("vid"), lit(5L))

  test("IVF disk append chain is crash-atomic at all three windows") {
    val model = AnnFamily.Ivf.train(corpus, Similarity.densityNlist(emb.count()))
    val centroids = model.centroids
    val assigned = AnnFamily.Ivf.encode(corpus, model)
      .withColumn("s", pmod(col("vid"), lit(5L)))
    chainSurvivesCrashes("ivf",
      assigned.where(col("s") >= 2).drop("s"),
      assigned.where(col("s") < 2).drop("s"),
      Map("kind" -> "ivf", "nlist" -> centroids.length.toString), Seq("cell"),
      aux = Map(IndexStore.ModelTable ->
        IndexStore.modelDf(spark, Map("centroids" -> centroids))),
      modelCheck = () => {
        val back = IndexStore.readModelMatrix(spark, labelPath("ivf"), "centroids")
        assert(back.length == centroids.length &&
          back.zip(centroids).forall { case (x, y) => java.util.Arrays.equals(x, y) },
          "ivf: centroids must ride every generation bit-exactly")
      })
  }

  test("LSH disk append chain is crash-atomic at all three windows") {
    val dim = Similarity.dimOf(emb)
    val hashed = AnnFamily.Lsh.encode(corpus, AnnFamily.Lsh.train(corpus, 0))
      .withColumn("s", pmod(col("vid"), lit(5L)))
    chainSurvivesCrashes("lsh",
      hashed.where(col("s") >= 2).drop("s"),
      hashed.where(col("s") < 2).drop("s"),
      Map("kind" -> "lsh", "seed" -> "42", "dim" -> dim.toString), Seq("t"))
  }

  test("PQ disk append chain is crash-atomic at all three windows") {
    val model = AnnFamily.Pq.train(corpus, 0)
    val (codebooks, bounds) = (model.codebooks, model.bounds)
    val codes = AnnFamily.Pq.encode(corpus, model)
      .withColumn("s", pmod(col("vid"), lit(5L)))
    chainSurvivesCrashes("pq",
      codes.where(col("s") >= 2).drop("s"),
      codes.where(col("s") < 2).drop("s"),
      Map("kind" -> "pq", "m" -> "8", "ksub" -> "256",
        "bounds" -> IndexStore.encodeInts(bounds)), Nil,
      aux = Map(IndexStore.ModelTable ->
        IndexStore.modelDf(spark, Map.empty, Map("codebooks" -> codebooks))),
      modelCheck = () => {
        val back = IndexStore.readModelCube(spark, labelPath("pq"), "codebooks")
        assert(back.length == codebooks.length &&
          back(0)(0).toSeq == codebooks(0)(0).toSeq,
          "pq: codebooks must ride every generation bit-exactly")
      })
  }

  test("composed IVF-PQ disk append chain is crash-atomic at all three windows") {
    val model = AnnFamily.IvfPq.train(corpus, Similarity.densityNlist(emb.count()))
    val AnnModel(centroids, codebooks, bounds, _) = model
    val encoded = AnnFamily.IvfPq.encode(corpus, model)
      .withColumn("s", pmod(col("vid"), lit(5L)))
    chainSurvivesCrashes("ivfpq",
      encoded.where(col("s") >= 2).drop("s"),
      encoded.where(col("s") < 2).drop("s"),
      Map("kind" -> "ivfpq", "nlist" -> centroids.length.toString,
        "m" -> "8", "ksub" -> "256", "by_residual" -> "true",
        "bounds" -> IndexStore.encodeInts(bounds)), Seq("cell"),
      aux = Map(IndexStore.ModelTable -> IndexStore.modelDf(spark,
        Map("centroids" -> centroids), Map("codebooks" -> codebooks))))
  }

  test("MinHash band-index disk append chain is crash-atomic at all three windows") {
    val docs = graft.Tables.t(spark, sf0001, "documents")
    val dslice = pmod(col("doc_id"), lit(5L))
    chainSurvivesCrashes("bands",
      Dedup.bandKeys(docs.where(dslice >= 2), k = 32, bands = 16),
      Dedup.bandKeys(docs.where(dslice === 1), k = 32, bands = 16),
      Map("kind" -> "minhash-bands", "k" -> "32", "bands" -> "16"), Seq("band"))
  }
}
