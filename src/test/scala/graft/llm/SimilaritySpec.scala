package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("sign-LSH top-k achieves usable recall vs brute force") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = topSet(Similarity.bruteForceTopK(emb, queries, 5))
    val lsh = topSet(Similarity.lshTopK(emb, queries, 5, tables = 8, bits = 6))
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(brute.size === queries.count() * 5)
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("IVF top-k achieves usable recall vs brute force") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = topSet(Similarity.bruteForceTopK(emb, queries, 5))
    val ivf = topSet(Similarity.rebuildTopK(AnnFamily.Ivf, emb, queries, 5, nlist = 16, nprobe = 4))
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("standing IVF index: built once, probes reuse the materialization") {
    // the x_sim_index_probe contract (the dedup corpusBandIndexFor
    // pattern applied to ANN): the pinned index is the SAME object on
    // every probe, it IS a checkpointed materialization, and probing it
    // returns exactly what the per-rep rebuild path returns (kmeans is
    // deterministic: fixed seed + deterministic sample)
    val i1 = Similarity.indexFor(spark, sf001, AnnFamily.Ivf)
    val i2 = Similarity.indexFor(spark, sf001, AnnFamily.Ivf)
    assert(i1 eq i2, "IVF index was rebuilt on the second probe")
    val leaves = i1.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(leaves.nonEmpty && leaves.forall(_.isCheckpointed),
      "index should be a checkpointed materialization")

    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nlist = 0 on the rebuild side: the standing index builds at the
    // density-scaled cell count, and equality needs identical centroids
    val probe = topSet(Similarity.indexProbe(spark, sf001, AnnFamily.Ivf, queries, k = 5,
      nprobe = 4))
    val rebuild = topSet(Similarity.rebuildTopK(AnnFamily.Ivf, emb, queries, 5, nprobe = 4))
    assert(probe === rebuild,
      "standing-index probe must agree with the per-rep rebuild path")
  }

  test("standing PQ index: built once, probe agrees with the rebuild path") {
    val c1 = Similarity.indexFor(spark, sf001, AnnFamily.Pq)
    val c2 = Similarity.indexFor(spark, sf001, AnnFamily.Pq)
    assert(c1 eq c2, "PQ codes table was rebuilt on the second probe")
    val leaves = c1.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(leaves.nonEmpty && leaves.forall(_.isCheckpointed),
      "codes table should be a checkpointed materialization")
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe = topSet(Similarity.indexProbe(spark, sf001, AnnFamily.Pq, queries, k = 5))
    val rebuild = topSet(Similarity.rebuildTopK(AnnFamily.Pq, emb, queries, 5))
    assert(probe === rebuild,
      "standing-codes probe must agree with the per-rep rebuild path")
  }

  test("IVF index maintenance: merged assignment converges; merge is idempotent") {
    import spark.implicits._
    val emb = Tables.t(spark, sf001, "embeddings")
    val sample = emb.select(col("embedding").cast("array<double>"))
      .limit(2048).as[Array[Double]].collect()
    val model = AnnModel(centroids = VecKernels.kmeans(sample, 16, iters = 8, seed = 42L))
    val c = Similarity.corpusOf(emb)
    val slice = pmod(col("vid"), lit(5L))
    val ivf = AnnFamily.Ivf
    val index0 = ivf.encode(c.where(slice >= 2), model)
    val merged = Similarity.mergeIndex(ivf, index0, c.where(slice === 1), model)
    val rebuilt = ivf.encode(c.where(slice =!= 0), model)
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("vid", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(merged) === cells(rebuilt),
      "maintained assignment diverged from a full re-assign")
    // idempotence: replaying the admitted batch must not duplicate rows
    val replayed = Similarity.mergeIndex(ivf, merged, c.where(slice === 1), model)
    assert(replayed.count() === rebuilt.count(),
      "replaying an admitted batch duplicated assignment rows")
  }

  test("PQ codes maintenance: merged codes converge; merge is idempotent") {
    import spark.implicits._
    val emb = Tables.t(spark, sf001, "embeddings")
    val c = emb.select(col("vec_id").as("vid"),
      col("embedding").cast("array<double>").as("cv"))
    val sample = c.select(col("cv")).limit(2048).as[Array[Double]].collect()
      .map(VecKernels.normalize)
    val model = Similarity.flatPqModel(sample, 8, 256)
    val slice = pmod(col("vid"), lit(5L))
    val pq = AnnFamily.Pq
    val codes0 = pq.encode(c.where(slice >= 2), model)
    val merged = Similarity.mergeIndex(pq, codes0, c.where(slice === 1), model)
    val rebuilt = pq.encode(c.where(slice =!= 0), model)
    def codeMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Byte]] =
      df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(codeMap(merged) === codeMap(rebuilt),
      "maintained codes table diverged from a full re-encode")
    val replayed = Similarity.mergeIndex(pq, merged, c.where(slice === 1), model)
    assert(replayed.count() === rebuilt.count(),
      "replaying an admitted batch duplicated codes rows")
  }

  test("composed IVF-PQ top-k achieves usable recall vs brute force") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = topSet(Similarity.bruteForceTopK(emb, queries, 5))
    val ivfpq = topSet(Similarity.rebuildTopK(AnnFamily.IvfPq, emb, queries, 5))
    val recall = (brute intersect ivfpq).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF-PQ recall too low: $recall")
  }

  test("standing IVF-PQ index: built once, probe agrees with the rebuild path") {
    val i1 = Similarity.indexFor(spark, sf001, AnnFamily.IvfPq)
    val i2 = Similarity.indexFor(spark, sf001, AnnFamily.IvfPq)
    assert(i1 eq i2, "composed index was rebuilt on the second probe")
    val leaves = i1.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(leaves.nonEmpty && leaves.forall(_.isCheckpointed),
      "composed index should be a checkpointed materialization")
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe = topSet(Similarity.indexProbe(spark, sf001, AnnFamily.IvfPq, queries, k = 5))
    val rebuild = topSet(Similarity.rebuildTopK(AnnFamily.IvfPq, emb, queries, 5))
    assert(probe === rebuild,
      "standing composed probe must agree with the per-rep rebuild path")
  }

  test("IVF-PQ maintenance: merged composed table converges; merge is idempotent") {
    import spark.implicits._
    val emb = Tables.t(spark, sf001, "embeddings")
    val c = emb.select(col("vec_id").as("vid"),
      col("embedding").cast("array<double>").as("cv"))
    val sample = c.select(col("cv")).limit(2048).as[Array[Double]].collect()
      .map(VecKernels.normalize)
    val (centroids, codebooks, bounds) =
      Similarity.ivfPqTrain(sample, 16, 8, 256)
    val model = AnnModel(centroids, codebooks, bounds)
    val slice = pmod(col("vid"), lit(5L))
    val ivfPq = AnnFamily.IvfPq
    val index0 = ivfPq.encode(c.where(slice >= 2), model)
    val merged = Similarity.mergeIndex(ivfPq, index0, c.where(slice === 1), model)
    val rebuilt = ivfPq.encode(c.where(slice =!= 0), model)
    def rowMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Seq[Byte])] =
      df.collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getAs[Array[Byte]](2).toSeq))).toMap
    assert(rowMap(merged) === rowMap(rebuilt),
      "maintained composed table diverged from a full re-encode")
    val replayed = Similarity.mergeIndex(ivfPq, merged, c.where(slice === 1), model)
    assert(replayed.count() === rebuilt.count(),
      "replaying an admitted batch duplicated composed rows")
  }

  test("IVF-PQ residual scan: single-cell composed scan matches the flat scan; pruned probe filters on cell") {
    import spark.implicits._
    val emb = Tables.t(spark, sf001, "embeddings")
    val c = emb.select(col("vec_id").as("vid"),
      col("embedding").cast("array<double>").as("cv"))
    val sample = c.select(col("cv")).limit(2048).as[Array[Double]].collect()
      .map(VecKernels.normalize)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact pin under by_residual: with nlist=1 every vector shares
    // one centroid, so the composed score q·c0 + ADC(residual) is the
    // flat ADC over the SAME residual codes shifted by a per-query
    // CONSTANT — ranking, ties (vid asc) and the exact re-rank are all
    // shift-invariant, so the composed scan must return exactly what the
    // flat scan (no cell column, the all-zero centroid) returns over
    // those codes (pins heap logic, the cell→query routing, the
    // best-first shortlist cut, and the re-rank)
    val (c1, cb1, bd1) = Similarity.ivfPqTrain(sample, nlist = 1, 8, 256)
    val index1 = Similarity.ivfPqEncodeDf(c, c1, cb1, bd1)
    val composed = topSet(Similarity.ivfPqScan(index1, c, AnnModel(c1, cb1, bd1),
      queries, 5, nprobe = 1, shortlistFactor = 4))
    val zero = Array(new Array[Double](c1(0).length))
    val flat = topSet(Similarity.ivfPqScan(index1.select("vid", "codes"), c,
      AnnModel(zero, cb1, bd1), queries, 5, nprobe = 1, shortlistFactor = 4))
    assert(composed === flat,
      "single-cell composed scan diverged from the flat PQ scan on identical residual codes")
    // and the pruned probe's plan actually filters on cell (real model)
    val (centroids, codebooks, bounds) =
      Similarity.ivfPqTrain(sample, 16, 8, 256)
    val index = Similarity.ivfPqEncodeDf(c, centroids, codebooks, bounds)
    val prunedPlan = Similarity.ivfPqScan(index, c, AnnModel(centroids, codebooks, bounds),
      queries, 5, nprobe = 4, shortlistFactor = 4)
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("cell#") &&
        (prunedPlan.toLowerCase.contains("inset") || prunedPlan.toLowerCase.contains("in (")),
      s"composed scan lost its cell pruning filter:\n$prunedPlan")
  }

  test("ANN index deletion forgets exactly the requested vids; delete-then-admit round-trips") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val c = Similarity.corpusOf(emb)
    val slice = pmod(col("vid"), lit(5L))
    val forgotten = emb.where(pmod(col("vec_id"), lit(5L)) === 1).select("vec_id")
    for (fam <- AnnFamily.all) {
      val model = fam.train(c, nlist = 16)
      // each family's stored key, codes compared by value
      def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.select(fam.storedKey.map(col): _*).collect().map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case v => v
        }).toSet
      val full = fam.encode(c, model)
      val shrunk = Similarity.deleteFromIndex(full, forgotten)
      assert(rows(shrunk) === rows(fam.encode(c.where(slice =!= 1), model)),
        s"${fam.kind}: deletion left different rows than a rebuild over the retained corpus")
      // update = delete-then-admit round-trips to the full table
      val readmitted = Similarity.mergeIndex(fam, shrunk, c.where(slice === 1), model)
      assert(rows(readmitted) === rows(full), s"${fam.kind}: delete-then-admit did not round-trip")
    }
  }

  test("a cold probe refuses an artifact of another family, naming path and both kinds") {
    // without the kind check an IVF artifact probed as IVF-PQ blamed a
    // missing residual layout, and a PQ artifact probed as LSH died on a
    // missing sidecar key
    val emb = Tables.t(spark, sf001, "embeddings")
    val q = emb.filter(col("vec_id") % 25 === 0)
    for ((saved, probed) <- Seq(AnnFamily.Ivf -> AnnFamily.IvfPq, AnnFamily.Pq -> AnnFamily.Lsh)) {
      val path = s"${ArtifactQueries.tempRoot(spark)}/spec/kind_${saved.kind}"
      Similarity.saveIndex(spark, sf001, saved, path)
      val e = intercept[IllegalArgumentException] {
        Similarity.coldProbe(spark, path, probed, Similarity.corpusOf(emb), q, k = 5)
      }
      assert(e.getMessage.contains(path) && e.getMessage.contains(s"'${saved.kind}'") &&
        e.getMessage.contains(s"expected '${probed.kind}'"), e.getMessage)
    }
  }

  test("standing LSH index: built once, probe agrees with the rebuild path") {
    val b1 = Similarity.indexFor(spark, sf001, AnnFamily.Lsh)
    val b2 = Similarity.indexFor(spark, sf001, AnnFamily.Lsh)
    assert(b1 eq b2, "bucket table was rebuilt on the second probe")
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe = topSet(Similarity.indexProbe(spark, sf001, AnnFamily.Lsh, queries, k = 5))
    // the standing index hashes at the SELECTIVE bit-width (8); the
    // rebuild comparison runs lshTopK at the same width — same planes,
    // same candidates, same re-rank
    val rebuild = topSet(Similarity.lshTopK(emb, queries, k = 5, tables = 8, bits = 8))
    assert(probe === rebuild,
      "standing-bucket probe must agree with the per-rep rebuild path")
    val brute = topSet(Similarity.bruteForceTopK(emb, queries, 5))
    val recall = (probe & brute).size.toDouble / brute.size
    info(f"8-bit standing-LSH recall vs brute: $recall%.3f")
    assert(recall >= 0.45, f"selective-index recall $recall%.3f under floor 0.45")
  }

  test("LSH index maintenance: merged buckets converge; merge is idempotent") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val dim = emb.select(size(col("embedding")).as("d")).limit(1).collect()(0).getInt(0)
    val model = AnnModel(planes = Similarity.lshPlanesFor(dim))
    val c = Similarity.corpusOf(emb)
    val slice = pmod(col("vid"), lit(5L))
    val lsh = AnnFamily.Lsh
    val index0 = lsh.encode(c.where(slice >= 2), model)
    val merged = Similarity.mergeIndex(lsh, index0, c.where(slice === 1), model)
    val rebuilt = lsh.encode(c.where(slice =!= 0), model)
    def buckets(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(buckets(merged) === buckets(rebuilt),
      "maintained bucket table diverged from a full re-hash")
    val replayed = Similarity.mergeIndex(lsh, merged, c.where(slice === 1), model)
    assert(replayed.count() === rebuilt.count(),
      "replaying an admitted batch duplicated bucket rows")
  }

  test("PQ/ADC top-k achieves usable recall vs brute force") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = topSet(Similarity.bruteForceTopK(emb, queries, 5))
    val pq = topSet(Similarity.rebuildTopK(AnnFamily.Pq, emb, queries, 5))
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.75, s"PQ recall too low: $recall")
  }

  test("embedding near-dup LSH pairs recall vs the exact pairs") {
    val emb = Tables.t(spark, sf001, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.embedDupPairsExact(emb, 0.4))
    val lsh = pairs(Similarity.embedDupPairsLsh(emb, 0.4, tables = 16, bits = 5))
    assert(exact.nonEmpty, "fixture should contain cos>=0.4 pairs")
    // every LSH pair is exact-verified (cos filter), so no false positives
    assert((lsh -- exact).isEmpty, s"false positives: ${lsh -- exact}")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH pair recall too low: $recall")
  }

  test("brute-force cosine agrees with a hand-computed value") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0)
    val out = Similarity.bruteForceTopK(emb, q, 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out(1L) === 1.0)
    assert(out(2L) === 0.0)
    assert(math.abs(out(3L) - 0.6) < 1e-9)
  }

  test("semantic cluster-blocked dedup: no false positives, usable recall") {
    val emb = Tables.t(spark, sf001, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.embedDupPairsExact(emb, 0.4))
    val sem = pairs(Similarity.semanticDupPairs(emb, 0.4, k = 8, nprobe = 2, iters = 3))
    // every emitted pair passed the exact cosine filter -> subset of exact
    assert((sem -- exact).isEmpty, s"false positives: ${(sem -- exact).take(5)}")
    val recall = (exact intersect sem).size.toDouble / exact.size
    assert(recall >= 0.5, s"semantic-blocking recall too low: $recall")
  }

  test("power iteration recovers the dominant axis of anisotropic data") {
    import spark.implicits._
    // variance 100x larger along the (1,1,0,...)/sqrt(2) direction
    val axis = Array(1.0 / math.sqrt(2), 1.0 / math.sqrt(2), 0.0, 0.0)
    val pts = (0 until 200).map { i =>
      val t = (i - 100) * 0.1 // spread along the axis
      val noise = Array(0.01 * (i % 7 - 3), 0.01 * (i % 5 - 2),
        0.02 * (i % 3 - 1), 0.02 * (i % 11 - 5))
      (i.toLong, Array.tabulate(4)(j => axis(j) * t + noise(j)))
    }
    val v = Similarity.topComponent(pts.toDS().repartition(4), iters = 6)
    val cos = math.abs(v.zip(axis).map { case (a, b) => a * b }.sum)
    assert(cos > 0.98, s"recovered ${v.toSeq}, |cos|=$cos")
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9, "not unit norm")
  }

  test("distributed k-means: inertia non-increasing, blobs recovered") {
    import spark.implicits._
    // three well-separated blobs; ids 0..2 (the init seeds) land one per blob
    val pts = (0 until 90).map { i =>
      val blob = i % 3
      val base = Array(blob * 10.0, blob * -10.0)
      (i.toLong, Array(base(0) + (i / 3) * 0.01, base(1) + (i / 7) * 0.01))
    }
    val ds = pts.toDS().repartition(4)
    val (cents, inertia) = Similarity.fitKMeans(ds, k = 3, iters = 4)
    assert(cents.length === 3)
    inertia.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-9, s"inertia increased: ${inertia.toSeq}")
    }
    // final assignment groups each blob together
    val byBlob = pts.groupBy(_._1 % 3).values.map { blob =>
      blob.map(p => VecKernels.nearestCentroid(p._2, cents)).distinct
    }
    byBlob.foreach(cs => assert(cs.size === 1, s"blob split across $cs"))
    assert(byBlob.flatten.toSet.size === 3, "blobs collapsed into one cluster")
  }

  test("streamed IVF ingest: live engine converges and the probe meets the recall contract") {
    // the x_stream_ivf_ingest builder drives 4 micro-batches through the
    // REAL streaming engine with probe-then-merge; its in-engine requires
    // gate streamed ≡ direct assignment and that live probes ran — this
    // drive surfaces those requires as a spec failure, and the output row
    // must satisfy the recall contract
    val r = graft.SparkEntry.queries("x_stream_ivf_ingest")(spark, sf001).collect()(0)
    assert(r.getAs[Boolean]("recall_ok"), r.toString)
    assert(r.getAs[Long]("n_queries") > 0)
  }

  test("file-source IVF ingest: files landing DURING the stream are discovered and admitted") {
    // the x_stream_ivf_file_ingest builder writes one backlog parquet
    // file, starts a maxFilesPerTrigger=1 paced readStream, then lands
    // three more embedding slices between processAllAvailable fences;
    // its in-engine requires pin >=4 discovered non-empty micro-batches
    // (the two-stage discovery gate), live probes, and file-ingested ≡
    // direct assignment — this drive surfaces those requires as a spec
    // failure, and the output row must satisfy the recall contract
    val r = graft.SparkEntry.queries("x_stream_ivf_file_ingest")(spark, sf001).collect()(0)
    assert(r.getAs[Boolean]("recall_ok"), r.toString)
    assert(r.getAs[Long]("n_queries") > 0)
  }

  test("file-source LSH/PQ/IVF-PQ ingest: every ANN family's loop admits landing shards") {
    // the remaining families ride the same annFileIngest drive; each
    // row's in-engine requires pin the >=4-batch discovery gate, live
    // probes, and file-ingested ≡ direct state on the stored key
    for (name <- Seq("x_stream_lsh_file_ingest", "x_stream_pq_file_ingest",
        "x_stream_ivfpq_file_ingest")) {
      val r = graft.SparkEntry.queries(name)(spark, sf001).collect()(0)
      assert(r.getAs[Boolean]("recall_ok"), s"$name: $r")
      assert(r.getAs[Long]("n_queries") > 0, name)
    }
  }

  test("streamed LSH ingest: live engine converges and the probe meets the recall contract") {
    // same drive as the IVF row: the builder's in-engine requires gate
    // streamed ≡ direct bucket table and that live probes ran
    val r = graft.SparkEntry.queries("x_stream_lsh_ingest")(spark, sf001).collect()(0)
    assert(r.getAs[Boolean]("recall_ok"), r.toString)
    assert(r.getAs[Long]("n_queries") > 0)
  }

  test("streamed PQ ingest: live engine converges and the probe meets the recall contract") {
    // the in-engine requires gate streamed codes ≡ direct encode (the
    // family's codes-identity convention) and that live ADC probes ran
    val r = graft.SparkEntry.queries("x_stream_pq_ingest")(spark, sf001).collect()(0)
    assert(r.getAs[Boolean]("recall_ok"), r.toString)
    assert(r.getAs[Long]("n_queries") > 0)
  }

  test("streamed IVF-PQ ingest: live engine converges and the probe meets the recall contract") {
    // the in-engine requires gate streamed composed table ≡ direct
    // encode on (vid, cell, codes) and that live cell-pruned ADC
    // probes ran
    val r = graft.SparkEntry.queries("x_stream_ivfpq_ingest")(spark, sf001).collect()(0)
    assert(r.getAs[Boolean]("recall_ok"), r.toString)
    assert(r.getAs[Long]("n_queries") > 0)
  }

  test("LSH, PQ and IVF-PQ disk chains: append+compact converge to the direct build through a cold probe") {
    for (name <- Seq("x_sim_index_disk_update_lsh", "x_sim_index_disk_update_pq",
        "x_sim_index_disk_update_ivfpq")) {
      val r = graft.SparkEntry.queries(name)(spark, sf001).collect()(0)
      assert(r.getAs[Boolean]("converged"), s"$name: $r")
      assert(r.getAs[Boolean]("compacted_ok"), s"$name: $r")
      assert(r.getAs[Boolean]("recall_ok"), s"$name: $r")
    }
  }

  test("bruteForceTopK dies loudly, with the budget named, on a corpus-sized query frame") {
    import spark.implicits._
    // a mis-carved "query" frame over the budget must fail BEFORE the
    // driver collect, naming the knob — not OOM inside collect()
    val big = spark.range(Similarity.maxQueryBatch.toLong + 1)
      .select(col("id").as("vec_id"),
        array(lit(1.0), lit(0.0)).as("embedding"))
    val corpus = Seq((0L, Array(1.0, 0.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(corpus, big, 1)
    }
    assert(e.getMessage.contains("maxQueryBatch"), e.getMessage)
    // the one-shot LSH path carries the same contract
    val e2 = intercept[IllegalArgumentException] {
      Similarity.lshTopK(corpus, big, 1, tables = 2, bits = 2)
    }
    assert(e2.getMessage.contains("maxQueryBatch"), e2.getMessage)
  }

  test("pqScan and ivfPqScan die loudly, budget named, on a corpus-sized query frame") {
    import spark.implicits._
    // the multi-tile path now carries the family budget: a mis-carved
    // corpus-sized "query" frame must die naming maxQueryBatch before
    // any tile gather, not grind through ceil(nQ/tile) scan jobs
    val big = spark.range(Similarity.maxQueryBatch.toLong + 1)
      .select(col("id").as("vec_id"),
        array(lit(1.0), lit(0.0)).as("embedding"))
    val emb = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)),
      (2L, Array(0.6, 0.8))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.rebuildTopK(AnnFamily.Pq, emb, big, 1)
    }
    assert(e.getMessage.contains("maxQueryBatch"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.rebuildTopK(AnnFamily.IvfPq, emb, big, 1, nlist = 2, nprobe = 1)
    }
    assert(e2.getMessage.contains("maxQueryBatch"), e2.getMessage)
  }

  test("pqScan tiles the query batch: per-tile LUT gather is bounded, results unchanged") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val whole = rows(Similarity.rebuildTopK(AnnFamily.Pq, emb, queries, 5))
    // a tiny tile forces the multi-tile path (several codes scans, one
    // bounded LUT gather per tile); per-query results must be identical
    // because each query lives in exactly one tile
    val tiled =
      try {
        Similarity.pqLutTile = 4
        rows(Similarity.rebuildTopK(AnnFamily.Pq, emb, queries, 5))
      }
      finally Similarity.pqLutTile = 4096
    assert(tiled === whole)
  }

  test("ivfPqScan tiles the query batch: per-tile gather is bounded, results unchanged") {
    // the composed scan rides the same tile protocol (kernel-free count
    // probe, hash-tiling on the query frame, per-tile cell→queries map);
    // per-query results must be tile-invariant
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val whole = rows(Similarity.rebuildTopK(AnnFamily.IvfPq, emb, queries, 5))
    val tiled =
      try {
        Similarity.pqLutTile = 4
        rows(Similarity.rebuildTopK(AnnFamily.IvfPq, emb, queries, 5))
      }
      finally Similarity.pqLutTile = 4096
    assert(tiled === whole)
  }

  test("density knobs: calibration points, floors/caps, bounded probed fraction") {
    // the r17 density triple — pin the exact values the shipped floors
    // were calibrated against (SURVEY r17 density row; Probe prints
    // these), so a knob-formula change forces a floor re-audit
    import Similarity.{densityNlist, densityNprobe, densityShortlistFactor,
      quantizerSampleSize, quantizerDriverSampleCap}
    // fixture calibration points (N = 500 / 2k / 20k / 50k)
    assert(densityNlist(500) === 16)       // cert-small keeps 16
    assert(densityNlist(2000) === 32)
    assert(densityNlist(20000) === 100)
    assert(densityNlist(50000) === 159)
    assert(densityNprobe(500, 16) === 6)
    assert(densityNprobe(2000, 32) === 12)
    assert(densityNprobe(20000, 100) === 36)
    assert(densityNprobe(50000, 159) === 57)
    assert(densityShortlistFactor(500) === 8)
    assert(densityShortlistFactor(2000) === 16)
    assert(densityShortlistFactor(20000) === 51)
    assert(densityShortlistFactor(50000) === 80)
    // floors and caps
    assert(densityNlist(10) === 16, "nlist floors at 16")
    // the r17 ceiling is GONE (r17 verdict weak-#2: min(√(N/2),
    // sample/4) froze nlist at 512 from N ≈ 0.5 M on, so nprobe's √N
    // growth silently saturated one decade above the sf1 cert) — the
    // sampler scales with the cell count instead
    assert(densityNlist(500000) === 500, "past the old knee")
    assert(densityNlist(2000000) === 1000,
      "nlist keeps scaling √N where the r17 sample cap froze it at 512")
    assert(quantizerSampleSize(500) === 39 * 500,
      "training sample scales ∝ 39·nlist (FAISS practice)")
    assert(quantizerSampleSize(16) === 2048, "small fixtures keep the floor")
    assert(quantizerSampleSize(10000) === quantizerDriverSampleCap,
      "past the driver budget the SAMPLE caps — training goes distributed")
    assert(densityNprobe(1L << 40, 64) === 64, "nprobe clamps to nlist")
    assert(densityShortlistFactor(1L << 40) === 256, "shortlist caps at 256")
    // the scale invariant the round exists for: across the certified
    // density range AND past the removed knee the probed fraction stays
    // bounded away from both brute (saturation) and blind (zero-cell)
    // regimes
    for (n <- Seq(500L, 2000L, 20000L, 50000L, 200000L, 1000000L, 10000000L)) {
      val nl = densityNlist(n)
      val frac = densityNprobe(n, nl).toDouble / nl
      assert(frac >= 0.2 && frac <= 0.5,
        s"probed fraction $frac out of [0.2, 0.5] at N=$n (nlist=$nl)")
    }
    // monotone: more corpus never means fewer cells or narrower probes
    val pts = Seq(500L, 2000L, 20000L, 50000L, 200000L, 1000000L)
    val nls = pts.map(densityNlist)
    assert(nls === nls.sorted, "nlist must be nondecreasing in N")
    val nps = pts.zip(nls).map { case (n, nl) => densityNprobe(n, nl) }
    assert(nps === nps.sorted, "nprobe must be nondecreasing in N")
  }

  test("distributed coarse-quantizer training matches the driver kernel's contract") {
    import spark.implicits._
    // a synthetic corpus big enough that nlist=24 under a tiny forced
    // driver budget exercises the DISTRIBUTED Lloyd path; determinism
    // and assignment sanity are the contract (exact centroid equality
    // with the driver kernel is not — init schemes differ by design)
    val n = 3000
    val dim = 8
    val vecs = spark.range(n.toLong).map { i =>
      val r = new java.util.Random(i)
      Array.fill(dim)(r.nextGaussian())
    }.toDF("cv")
    val init = vecs.limit(24).as[Array[Double]].collect()
    val ds = vecs.as[Array[Double]].map(v => (0L, v))
    val (cents, inertia) = Similarity.fitKMeans(ds, 24, iters = 6, init = Some(init))
    assert(cents.length === 24)
    assert(cents.forall(_.length == dim))
    // Lloyd guarantee: inertia non-increasing
    inertia.sliding(2).foreach { w =>
      assert(w(1) <= w(0) + 1e-9, s"inertia rose: ${w.toSeq}")
    }
    // deterministic: a second run reproduces identical centroids
    val (cents2, _) = Similarity.fitKMeans(ds, 24, iters = 6, init = Some(init))
    assert(cents.zip(cents2).forall { case (a, b) =>
      java.util.Arrays.equals(a, b)
    }, "distributed training must be deterministic")
    // every centroid is finite and assignment covers a sane cell spread
    val assigned = Similarity.ivfAssign(
      spark.range(n.toLong).map { i =>
        val r = new java.util.Random(i)
        (i, Array.fill(dim)(r.nextGaussian()))
      }.toDF("vid", "cv"), cents)
    assert(assigned.select("cell").distinct().count() >= 12,
      "distributed quantizer left most cells empty")
  }

  test("pqTrain: parallel per-subspace training is deterministic and " +
      "bit-identical to the sequential per-subspace reference") {
    val rnd = new java.util.Random(7)
    val sample = Array.fill(512)(
      VecKernels.normalize(Array.fill(64)(rnd.nextGaussian())))
    val (cb1, bounds) = Similarity.pqTrain(sample, 8, 32)
    // a second run reproduces identical codebooks (the r19 parallel
    // stream must not introduce any run-to-run nondeterminism)
    val (cb2, _) = Similarity.pqTrain(sample, 8, 32)
    assert(cb1.length == cb2.length && bounds.length == 9)
    cb1.zip(cb2).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) =>
        assert(java.util.Arrays.equals(x, y), "parallel pqTrain drifted across runs")
      }
    }
    // each subspace's codebook equals the standalone sequential k-means
    // over that subspace's slice with the same per-subspace seed — the
    // exact work pqTrain ran serially before r19
    cb1.zipWithIndex.foreach { case (cb, f) =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, bounds(f), bounds(f + 1)))
      val ref = VecKernels.kmeans(sub, 32, iters = 8, seed = 42L + f)
      cb.zip(ref).foreach { case (x, y) =>
        assert(java.util.Arrays.equals(x, y),
          s"subspace $f codebook diverged from the sequential reference")
      }
    }
  }

  test("kmeans: parallel assignment step is bit-identical to the serial " +
      "Lloyd reference (r19 — same IEEE accumulation order)") {
    val rnd0 = new java.util.Random(11)
    val sample = Array.fill(1500)(Array.fill(16)(rnd0.nextGaussian()))
    // the exact serial loop VecKernels.kmeans ran before r19 (assignment
    // and accumulation fused, one point at a time) — including the same
    // seeded init and the same empty-cluster reseed draws
    def serialRef(k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
      val rnd = new scala.util.Random(seed)
      val dim = sample(0).length
      var centroids = Array.tabulate(math.min(k, sample.length))(_ =>
        sample(rnd.nextInt(sample.length)).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(centroids.length)(new Array[Double](dim))
        val counts = new Array[Int](centroids.length)
        sample.foreach { v =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < centroids.length) {
            val ct = centroids(c)
            var dist = 0.0; var i = 0
            val n = math.min(v.length, ct.length)
            while (i < n) { val df = v(i) - ct(i); dist += df * df; i += 1 }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < dim) { sums(best)(i) += v(i); i += 1 }
        }
        centroids = centroids.indices.map { c =>
          if (counts(c) == 0) sample(rnd.nextInt(sample.length)).clone()
          else { val s = sums(c); var i = 0; while (i < dim) { s(i) /= counts(c); i += 1 }; s }
        }.toArray
        it += 1
      }
      centroids
    }
    Seq(8, 64).foreach { k =>
      val got = VecKernels.kmeans(sample, k, iters = 8, seed = 42L)
      val ref = serialRef(k, iters = 8, seed = 42L)
      assert(got.length == ref.length)
      got.zip(ref).zipWithIndex.foreach { case ((g, r), i) =>
        assert(java.util.Arrays.equals(g, r),
          s"centroid $i diverged from the serial Lloyd reference (k=$k)")
      }
    }
  }

  test("lshProbe: dropping the probe-bucket dedup is row-set identical " +
      "to the old deduped pipeline (r19)") {
    import spark.implicits._
    val rnd = new java.util.Random(3)
    val vecs = (0L until 200L).map(i => (i, Array.fill(12)(rnd.nextGaussian())))
    val emb = vecs.toDF("vec_id", "embedding")
    val planes = Similarity.lshPlanesFor(12)
    val corpus = Similarity.corpusOf(emb)
    val index = Similarity.lshAssign(corpus, planes)
    val queries = vecs.filter(_._1 % 25 == 0).toDF("vec_id", "embedding")
    val got = Similarity.lshProbe(index, corpus, planes, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the pre-r19 pipeline, probe-bucket dropDuplicates included — the
    // exchange the optimization removed must not have been load-bearing
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val probeDf = q.as[(Long, Array[Double])]
      .mapPartitions(_.flatMap { case (id, v) =>
        Iterator.range(0, planes.length).flatMap { tb =>
          val key = VecKernels.bucketKey(v, planes(tb))
          Iterator.single((tb, key, id)) ++
            Iterator.range(0, planes(tb).length).map(f => ((tb, key ^ (1 << f), id)))
        }
      })
      .toDF("t", "bucket", "qid")
      .dropDuplicates("t", "bucket", "qid")
    val cand = index.join(broadcast(probeDf), Seq("t", "bucket"))
      .where(col("qid") =!= col("vid"))
      .select("qid", "vid").dropDuplicates("qid", "vid")
    val scored = emb
      .select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("cv"))
      .join(cand, Seq("vid"))
      .join(q, Seq("qid"))
      .select(col("qid"), col("vid"), col("qv"), col("cv"))
      .as[(Long, Long, Array[Double], Array[Double])]
      .mapPartitions(_.map { case (qid, vid, qv, cv) =>
        (qid, vid, VecKernels.cosine(qv, cv))
      })
      .toDF("qid", "vid", "cos")
    val ref = graft.operators.LimitBy
      .limitBy(scored, Seq(col("qid")), Seq(col("cos").desc, col("vid").asc), 5)
      .select(col("qid"), col("vid"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.nonEmpty, "probe returned nothing — fixture too sparse")
    assert(got == ref, "dedup-free probe diverged from the old pipeline")
  }
}
