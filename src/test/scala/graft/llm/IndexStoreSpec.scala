package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cross-application index persistence (VERDICT r13 next-#1): artifacts
  * round-trip bit-exactly, cold probes run against (session, path) only
  * — no per-application memo/model-cache can be consulted, so none of
  * the "must compute in this application" guards can fire — and a save
  * over a live artifact replaces it in one commit, at every crash point.
  */
class IndexStoreSpec extends SparkSpec {

  test("driver-side aux-table write round-trips nulls, strings and " +
      "array<double> through Spark and the Group readers (r19)") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_auxrt_").toString
    // the manifest shape: non-null long, two NULLABLE longs, string
    val mSchema = StructType(Seq(
      StructField("rows", LongType, nullable = false),
      StructField("min_doc", LongType, nullable = true),
      StructField("max_doc", LongType, nullable = true),
      StructField("dir", StringType, nullable = false)))
    val mData = new java.util.ArrayList[org.apache.spark.sql.Row]()
    mData.add(org.apache.spark.sql.Row(3L, java.lang.Long.valueOf(5L),
      java.lang.Long.valueOf(9L), "pool/b0"))
    mData.add(org.apache.spark.sql.Row(0L, null, null, "pool/b1"))
    val manifest = spark.createDataFrame(mData, mSchema)
    // the model shape: array<double> column, exact IEEE values
    val model = IndexStore.modelDf(spark,
      Map("centroids" -> Array(Array(1.5, -2.25e-300), Array(0.1 + 0.2, 3.0))))
    val idx = spark.range(4).select(col("id").as("vid"), lit(1).as("cell"))
    IndexStore.save(idx, dir, Map("kind" -> "t"),
      aux = Map("mstats" -> manifest, IndexStore.ModelTable -> model))
    // Spark reads the driver-written aux back value-identically,
    // including the all-null stats row
    val back = IndexStore.loadAux(spark, dir, "mstats")
      .select("rows", "min_doc", "max_doc", "dir")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3)))
      .sortBy(_._4).toSeq
    assert(back === Seq((3L, Some(5L), Some(9L), "pool/b0"),
      (0L, None, None, "pool/b1")))
    // the model matrix round-trips bit-exactly through the Group reader
    val m = IndexStore.readModelMatrix(spark, dir, "centroids")
    assert(m.length == 2 &&
      java.util.Arrays.equals(m(0), Array(1.5, -2.25e-300)) &&
      java.util.Arrays.equals(m(1), Array(0.1 + 0.2, 3.0)))
  }

  test("sidecar integer codec round-trips the subspace bounds") {
    assert(IndexStore.decodeInts(IndexStore.encodeInts(Array(0, 8, 16, 64))).toSeq ==
      Seq(0, 8, 16, 64))
    assert(IndexStore.decodeInts(IndexStore.encodeInts(Array.empty)).isEmpty)
  }

  test("metadata sidecar writes and parses flat JSON with escapes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_meta_").toString
    val meta = Map("kind" -> "test", "quote" -> "a\"b", "slash" -> "a\\b",
      "vec" -> "1.5,-2.5")
    IndexStore.writeMeta(spark, s"$dir/_index_meta.json", meta)
    val back = IndexStore.readMeta(spark, dir)
    assert(back == meta)
  }

  test("an artifact of a retired format fails on load, naming path and both formats") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_fmt_").toString + "/idx"
    IndexStore.save(Seq((1L, "a")).toDF("id", "v"), path, Map("kind" -> "t"))
    val sidecar = s"${IndexStore.resolveDir(spark, path)}/_index_meta.json"
    IndexStore.writeMeta(spark, sidecar,
      IndexStore.readMeta(spark, path) + ("format" -> "2"))
    val e = intercept[IllegalArgumentException](IndexStore.load(spark, path))
    assert(e.getMessage.contains(path) && e.getMessage.contains("format 2") &&
      e.getMessage.contains(s"speaks ${IndexStore.FormatVersion}"), e.getMessage)
    assert(IndexStore.FormatVersion == "3")
  }

  test("cold IVF probe from a fresh session equals the warm probe; no application guard fires") {
    val d = sf001
    val path = s"${ArtifactQueries.tempRoot(spark)}/spec/ivf"
    Similarity.saveIndex(spark, d, AnnFamily.Ivf, path)
    val emb = graft.Tables.t(spark, d, "embeddings")
    val q = emb.filter(col("vec_id") % 25 === 0)
    val warm = Similarity.indexProbe(spark, d, AnnFamily.Ivf, q, k = 5, nprobe = 4)
    // a DIFFERENT session object: SessionMemo state empty by construction
    val fresh = spark.newSession()
    val embF = graft.Tables.t(fresh, d, "embeddings")
    val cold = Similarity.coldProbe(fresh, path, AnnFamily.Ivf, Similarity.corpusOf(embF),
      embF.filter(col("vec_id") % 25 === 0), k = 5, nprobe = 4)
    // cold path completed without the warm build ever running in `fresh`
    // (the "must be built in this application" guard lives only on the
    // memoized path, which coldProbe cannot reach)
    val coldRows = cold.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val warmRows = warm.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(coldRows.nonEmpty && coldRows == warmRows)
  }

  test("cold BM25 probe from a fresh session is value-identical to the warm probe") {
    val d = sf001
    val path = s"${ArtifactQueries.tempRoot(spark)}/spec/bm25"
    TextOps.saveBm25Index(spark, d, path)
    val qSel = col("doc_id") % 50 === 0 && col("doc_id") < 5000
    val warm = TextOps.bm25IndexProbe(spark, d,
      graft.Tables.t(spark, d, "documents").where(qSel), k = 5)
    val fresh = spark.newSession()
    val cold = TextOps.bm25ColdProbe(fresh, path,
      graft.Tables.t(fresh, d, "documents").where(qSel), k = 5)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    assert(cold.collect().map(key).toSet == warm.collect().map(key).toSet)
    assert(cold.count() > 0)
  }

  test("cold band-index candidates equal warm candidates") {
    val d = sf001
    val path = s"${ArtifactQueries.tempRoot(spark)}/spec/bands"
    Dedup.saveBandIndex(spark, d, path)
    val isBatch = pmod(col("doc_id"), lit(5L)) === 0
    val warm = Dedup.incrementalCandidates(
      graft.Tables.t(spark, d, "documents").where(isBatch),
      Dedup.corpusBandIndexFor(spark, d))
    val fresh = spark.newSession()
    val cold = Dedup.coldCandidates(fresh, path,
      graft.Tables.t(fresh, d, "documents").where(isBatch))
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    assert(cold.collect().map(key).toSet == warm.collect().map(key).toSet)
  }

  test("cold probes scan the artifact from disk and never degenerate") {
    val d = sf001
    val path = s"${ArtifactQueries.tempRoot(spark)}/spec/ivf_plan"
    Similarity.saveIndex(spark, d, AnnFamily.Ivf, path)
    val fresh = spark.newSession()
    val embF = graft.Tables.t(fresh, d, "embeddings")
    val plan = Similarity.coldProbe(fresh, path, AnnFamily.Ivf, Similarity.corpusOf(embF),
      embF.filter(col("vec_id") % 25 === 0), k = 5, nprobe = 4)
      .queryExecution.executedPlan.toString
    // the index side is a genuine parquet file scan (the disk path), not
    // a memoized checkpoint leaf or a driver-side local relation
    assert(plan.contains("Scan parquet"), s"cold probe must scan the artifact:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cold probe degenerated:\n$plan")
    // the 100-TB payoff of the cell-partitioned layout: Catalyst inserts
    // DYNAMIC PARTITION PRUNING from the broadcast probe side, so the
    // scan reads only the nprobe cells the batch actually probes — the
    // partition-pruned-scan claim made real, not just documented
    assert(plan.contains("dynamicpruning"),
      s"cold probe must partition-prune the cell-partitioned artifact:\n$plan")
  }

  test("composed IVF-PQ cold probe statically prunes the cell-partitioned artifact") {
    // the composed scan's probed-cell filter is a LITERAL set (the tile's
    // cells are known before the scan), so it reaches the parquet load as
    // a STATIC PartitionFilter — stronger than DPP: pruned at planning,
    // no runtime subquery — and the scan reads only nprobe/nlist of the
    // artifact's partitions
    val d = sf001
    val path = s"${ArtifactQueries.tempRoot(spark)}/spec/ivfpq_plan"
    Similarity.saveIvfPqIndex(spark, d, path)
    val fresh = spark.newSession()
    val embF = graft.Tables.t(fresh, d, "embeddings")
    val corpusF = embF.select(col("vec_id").as("vid"),
      col("embedding").cast("array<double>").as("cv"))
    val plan = Similarity.ivfPqColdProbe(fresh, path, corpusF,
      embF.filter(col("vec_id") % 25 === 0), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Scan parquet"), s"cold probe must scan the artifact:\n$plan")
    val pf = "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan)
    assert(pf.isDefined,
      s"composed cold probe must carry a static cell PartitionFilter:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"composed cold probe degenerated:\n$plan")
  }

  test("append adds rows into the stored layout; compact defragments and preserves the row set") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ac_").toString
    val path = s"$root/idx"
    IndexStore.save(Seq((1L, 10), (2L, 11)).toDF("vid", "cell"), path,
      Map("kind" -> "t"), Seq("cell"))
    IndexStore.append(Seq((3L, 10)).toDF("vid", "cell"), path)
    def rows() = IndexStore.load(spark, path).select("vid", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows() == Set((1L, 10), (2L, 11), (3L, 10)))
    val before = IndexStore.dataFileCount(spark, path)
    IndexStore.compact(spark, path)
    assert(IndexStore.dataFileCount(spark, path) <= before)
    assert(rows() == Set((1L, 10), (2L, 11), (3L, 10)))
    // unpartitioned artifacts size by bytes (>= 1 file), rows preserved
    val flat = s"$root/flat"
    IndexStore.save(Seq.tabulate(100)(i => (i.toLong, s"v$i")).toDF("k", "v"),
      flat, Map("kind" -> "t"))
    IndexStore.compact(spark, flat)
    assert(IndexStore.load(spark, flat).count() == 100)
    assert(IndexStore.dataFileCount(spark, flat) >= 1)
  }

  private def ids(path: String): Seq[Long] = {
    import spark.implicits._
    IndexStore.load(spark, path).select("id").as[Long].collect().toSeq.sorted
  }

  test("save over a live artifact serves the new rows; the old segment is swept one commit later") {
    import spark.implicits._
    val live = java.nio.file.Files.createTempDirectory("graft_resave_").toString + "/live"
    IndexStore.save(Seq((1L, "g1")).toDF("id", "v"), live, Map("gen" -> "1"))
    val g1 = IndexStore.manifestEntries(spark, live).map(_.dir)
    IndexStore.save(Seq((2L, "g2"), (3L, "g2")).toDF("id", "v"), live, Map("gen" -> "2"))
    assert(IndexStore.readMeta(spark, live)("gen") == "2")
    assert(ids(live) == Seq(2L, 3L))
    IndexStore.verifyManifest(spark, live)
    // one generation of grace: an in-flight reader of g1 keeps its files
    assert(IndexStore.orphanPoolDirs(spark, live) == g1)
    IndexStore.save(Seq((4L, "g3")).toDF("id", "v"), live, Map("gen" -> "3"))
    assert(ids(live) == Seq(4L))
    assert(IndexStore.orphanPoolDirs(spark, live).intersect(g1).isEmpty,
      "the superseded segment must be swept by the next commit")
    assert(new java.io.File(live).listFiles().map(_.getName)
      .count(_.matches("v\\d+")) == 1, "superseded generations must be deleted")
  }

  test("save over a live artifact killed at either flip window serves one complete generation") {
    import spark.implicits._
    val live = java.nio.file.Files.createTempDirectory("graft_resavecrash_").toString + "/live"
    IndexStore.save(Seq((1L, "g1")).toDF("id", "v"), live, Map("gen" -> "1"))

    // killed before the flip: the new generation is fully staged, the
    // pointer still names the old one — the old rows are served
    IndexStore.commitHookBeforeFlip = () => throw new RuntimeException("boom-before-flip")
    try intercept[RuntimeException](
      IndexStore.save(Seq((2L, "g2")).toDF("id", "v"), live, Map("gen" -> "2")))
    finally IndexStore.commitHookBeforeFlip = () => ()
    assert(IndexStore.readMeta(spark, live)("gen") == "1")
    assert(ids(live) == Seq(1L))
    IndexStore.verifyManifest(spark, live)
    val crashed = IndexStore.orphanPoolDirs(spark, live)
    assert(crashed.size == 1, s"the crashed save's segment must be detectable: $crashed")

    // killed inside the flip (old pointer deleted, new one not renamed
    // in): resolution falls back to the highest complete generation —
    // the new one
    IndexStore.commitHookMidFlip = () => throw new RuntimeException("boom-mid-flip")
    try intercept[RuntimeException](
      IndexStore.save(Seq((3L, "g3"), (4L, "g3")).toDF("id", "v"), live, Map("gen" -> "3")))
    finally IndexStore.commitHookMidFlip = () => ()
    assert(IndexStore.readMeta(spark, live)("gen") == "3")
    assert(ids(live) == Seq(3L, 4L))
    IndexStore.verifyManifest(spark, live)

    // the next commit heals the pointer and sweeps the crash's orphans
    IndexStore.save(Seq((5L, "g4")).toDF("id", "v"), live, Map("gen" -> "4"))
    assert(IndexStore.readMeta(spark, live)("gen") == "4")
    assert(ids(live) == Seq(5L))
    IndexStore.verifyManifest(spark, live)
    assert(IndexStore.orphanPoolDirs(spark, live).intersect(crashed).isEmpty,
      "the crashed save's orphan segment survived the next commit's sweep")
    assert(new java.io.File(s"$live/_current").exists())
  }

  test("recreate dies loudly, with the budget named, on a corpus-sized frame") {
    val big = spark.range((1L << 20) + 1).toDF("id")
    val e = intercept[IllegalArgumentException] { ArtifactQueries.recreate(spark, big) }
    assert(e.getMessage.contains("maxRecreateRows"), e.getMessage)
  }
}
