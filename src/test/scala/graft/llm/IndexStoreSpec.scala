package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cross-application index persistence (VERDICT r13 next-#1): artifacts
  * round-trip bit-exactly, cold probes run against (session, path) only
  * — no per-application memo/model-cache can be consulted, so none of
  * the "must compute in this application" guards can fire — and the
  * stage-and-swap refresh exchanges artifacts atomically.
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

  test("sidecar numeric codecs round-trip doubles bit-exactly") {
    val m = Array(
      Array(1.0, -0.0, Double.MinPositiveValue, math.Pi),
      Array(1e308, -1.7976931348623157e308, 4.9e-324, 0.1 + 0.2))
    val back = IndexStore.decodeMatrix(IndexStore.encodeMatrix(m))
    assert(m.length == back.length)
    m.indices.foreach { i =>
      assert(m(i).map(java.lang.Double.doubleToRawLongBits(_)).toSeq ==
        back(i).map(java.lang.Double.doubleToRawLongBits(_)).toSeq)
    }
    val cube = Array(m, m.map(_.map(-_)))
    val cb = IndexStore.decodeCube(IndexStore.encodeCube(cube))
    assert(cb.length == 2 && cb(1)(0)(3) == -math.Pi)
    assert(IndexStore.decodeInts(IndexStore.encodeInts(Array(0, 8, 16, 64))).toSeq ==
      Seq(0, 8, 16, 64))
  }

  test("metadata sidecar writes and parses flat JSON with escapes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_meta_").toString
    val meta = Map("kind" -> "test", "quote" -> "a\"b", "slash" -> "a\\b",
      "vec" -> IndexStore.encodeVec(Array(1.5, -2.5)))
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
    val path = s"${IndexStore.tempRoot(spark)}/spec/ivf"
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
    val path = s"${IndexStore.tempRoot(spark)}/spec/bm25"
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
    val path = s"${IndexStore.tempRoot(spark)}/spec/bands"
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
    val path = s"${IndexStore.tempRoot(spark)}/spec/ivf_plan"
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
    val path = s"${IndexStore.tempRoot(spark)}/spec/ivfpq_plan"
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

  test("stage-and-swap promotes the staged artifact and drops the old one") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_swap_").toString
    val live = s"$root/live"
    val staged = s"$root/staged"
    IndexStore.save(Seq((1L, "old")).toDF("id", "v"), live, Map("gen" -> "1"))
    IndexStore.save(Seq((2L, "new")).toDF("id", "v"), staged, Map("gen" -> "2"))
    IndexStore.swap(spark, staged, live)
    assert(IndexStore.readMeta(spark, live)("gen") == "2")
    assert(IndexStore.load(spark, live).select("id").as[Long].collect().toSeq == Seq(2L))
    assert(!new java.io.File(staged).exists())
    assert(!new java.io.File(live + ".old").exists())
  }

  test("swap killed at every crash window still serves one complete artifact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_swapcrash_").toString
    val live = s"$root/live"
    IndexStore.save(Seq((1L, "g1")).toDF("id", "v"), live, Map("gen" -> "1"))

    // window 1: staged generation renamed in, pointer NOT yet flipped —
    // resolution must keep serving the OLD generation
    IndexStore.save(Seq((2L, "g2")).toDF("id", "v"), s"$root/staged1", Map("gen" -> "2"))
    IndexStore.swapHookBeforeFlip = () => throw new RuntimeException("boom-before-flip")
    try intercept[RuntimeException](IndexStore.swap(spark, s"$root/staged1", live))
    finally IndexStore.swapHookBeforeFlip = () => ()
    assert(IndexStore.readMeta(spark, live)("gen") == "1")
    assert(IndexStore.load(spark, live).select("id").as[Long].collect().toSeq == Seq(1L))

    // recovery = re-stage and re-swap (never reconstructs); the orphaned
    // crashed generation is garbage-collected by the successful swap
    IndexStore.save(Seq((2L, "g2")).toDF("id", "v"), s"$root/staged2", Map("gen" -> "2"))
    IndexStore.swap(spark, s"$root/staged2", live)
    assert(IndexStore.readMeta(spark, live)("gen") == "2")

    // window 2: killed INSIDE the pointer flip (old pointer deleted, new
    // one not yet renamed in) — resolution falls back to the highest
    // complete generation, the new one, already fully renamed in
    IndexStore.save(Seq((3L, "g3")).toDF("id", "v"), s"$root/staged3", Map("gen" -> "3"))
    IndexStore.swapHookMidFlip = () => throw new RuntimeException("boom-mid-flip")
    try intercept[RuntimeException](IndexStore.swap(spark, s"$root/staged3", live))
    finally IndexStore.swapHookMidFlip = () => ()
    assert(IndexStore.readMeta(spark, live)("gen") == "3")
    assert(IndexStore.load(spark, live).select("id").as[Long].collect().toSeq == Seq(3L))

    // a further normal swap over the crashed-pointer state heals it
    IndexStore.save(Seq((4L, "g4")).toDF("id", "v"), s"$root/staged4", Map("gen" -> "4"))
    IndexStore.swap(spark, s"$root/staged4", live)
    assert(IndexStore.readMeta(spark, live)("gen") == "4")
    assert(IndexStore.load(spark, live).select("id").as[Long].collect().toSeq == Seq(4L))
  }

  test("save over a previously-swapped root replaces the artifact whole") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_resave_").toString
    val live = s"$root/live"
    IndexStore.save(Seq((1L, "a")).toDF("id", "v"), live, Map("gen" -> "1"))
    IndexStore.save(Seq((2L, "b")).toDF("id", "v"), s"$root/st", Map("gen" -> "2"))
    IndexStore.swap(spark, s"$root/st", live)
    // root is versioned now; a fresh save must win over the old pointer
    IndexStore.save(Seq((3L, "c")).toDF("id", "v"), live, Map("gen" -> "3"))
    assert(IndexStore.readMeta(spark, live)("gen") == "3")
    assert(IndexStore.load(spark, live).select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("recreate dies loudly, with the budget named, on a corpus-sized frame") {
    val big = spark.range((1L << 20) + 1).toDF("id")
    val e = intercept[IllegalArgumentException] { IndexStore.recreate(spark, big) }
    assert(e.getMessage.contains("maxRecreateRows"), e.getMessage)
  }
}
