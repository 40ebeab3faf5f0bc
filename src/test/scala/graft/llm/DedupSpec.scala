package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH finds the same near-dup pairs as exact n-gram jaccard") {
    val docs = Tables.t(spark, sf001, "documents")
    val exact = pairsOf(Dedup.ngramJaccardPairs(docs, 0.5))
    val mh = pairsOf(Dedup.minhashPairs(docs, k = 32, bands = 8, tau = 0.5))
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // LSH candidates + signature estimate: no false negatives expected at
    // jaccard ≈ 0.98; est-jaccard threshold may admit few extras
    assert((exact -- mh).isEmpty, s"minhash missed: ${exact -- mh}")
    val extras = mh -- exact
    assert(extras.size <= exact.size / 2, s"too many false positives: $extras")
  }

  test("band candidates are a recall-1 superset of exact pairs (16x2 banding)") {
    val docs = Tables.t(spark, sf001, "documents")
    val exact = pairsOf(Dedup.ngramJaccardPairs(docs, 0.5))
    val cands = pairsOf(Dedup.minhashBandCandidates(docs, k = 32, bands = 16))
    assert(exact.nonEmpty)
    // the x_dedup_minhash oracle depends on this inclusion: verified
    // candidates == exact pairs only while banding recall stays 1
    assert((exact -- cands).isEmpty, s"banding missed: ${exact -- cands}")
  }

  test("simhash near-dup pairs are a subset-superset match of exact pairs") {
    val docs = Tables.t(spark, sf001, "documents")
    val exact = pairsOf(Dedup.ngramJaccardPairs(docs, 0.5))
    val sh = pairsOf(Dedup.simhashPairs(docs, maxHamming = 3))
    // simhash hamming<=3 is a different (stricter, token-multiset) notion;
    // everything it reports must be a genuine near-dup
    assert(sh.nonEmpty)
    assert((sh -- exact).isEmpty, s"simhash false positives: ${sh -- exact}")
  }

  test("exact dedup groups identical texts") {
    val docs = Seq(
      (1L, "same text here"), (2L, "same text here"), (3L, "different")).toDF("doc_id", "text")
    val out = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("copies"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(1L -> 2L, 3L -> 1L))
  }

  test("minhash signature length and determinism") {
    val docs = Tables.t(spark, sf0001, "documents").limit(5)
    val sigs1 = Dedup.withMinhash(docs, 32).select("doc_id", "sig").collect()
    val sigs2 = Dedup.withMinhash(docs, 32).select("doc_id", "sig").collect()
    assert(sigs1.map(_.getSeq[Long](1).size).forall(_ === 32))
    assert(sigs1.map(_.toString).sorted.sameElements(sigs2.map(_.toString).sorted))
  }

  test("connected components: chain, triangle, isolated pair, and keepers") {
    // chain 1-2-3-4 (diameter 3: exercises multi-round propagation),
    // triangle 10-11-12, isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))

    val docs = (1L to 4L) ++ Seq(10L, 11L, 12L, 20L, 21L, 99L) // 99 untouched
    val keep = Dedup.clusterKeepers(docs.toDF("doc_id"), Dedup.connectedComponents(pairs))
      .collect().map(_.getLong(0)).toSet
    assert(keep === Set(1L, 10L, 20L, 99L))
  }

  test("contamination broadcast index enforces its size budget and df-cap") {
    val docs = Tables.t(spark, sf001, "documents")
    // over-budget: the assert fires BEFORE collect/broadcast, naming it
    val ex = intercept[IllegalArgumentException] {
      Dedup.contamination(docs, maxIndexEntries = 10L).collect()
    }
    assert(ex.getMessage.contains("over the 10 budget"))
    // a binding df-cap drops boilerplate posting lists but still runs;
    // capped results are a subset of the uncapped scan's pairs
    val uncapped = Dedup.contamination(docs)
      .select("doc_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tight = Dedup.contamination(docs, benchDfCap = 1)
      .select("doc_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(uncapped))
  }

  test("incremental dedup probes the persisted corpus index, never rebuilds it") {
    // the standing index must be built once per (session, fixture):
    // the memo hands back the SAME materialized frame on every probe
    val i1 = Dedup.corpusBandIndexFor(spark, sf001)
    val i2 = Dedup.corpusBandIndexFor(spark, sf001)
    assert(i1 eq i2, "corpus index was rebuilt on the second probe")
    // and it IS a materialization (checkpoint scan), not a live plan —
    // the probe-side join reads stored blocks, corpus text never re-runs
    val leaves = i1.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(leaves.nonEmpty && leaves.forall(_.isCheckpointed),
      "index should be a checkpointed materialization")

    // probe recall: band candidates from the index must contain every
    // exact batch-vs-corpus near-dup pair (same 16x2 recall contract as
    // whole-corpus banding — the x_dedup_incremental oracle equality
    // rests on this inclusion)
    val docs = Tables.t(spark, sf001, "documents")
    val batch = docs.where(col("doc_id") % 5 === 0)
    val cands = Dedup.incrementalCandidates(batch, i1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairsOf(Dedup.ngramJaccardPairs(docs, 0.5))
      .filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => if (a % 5 == 0) (a, b) else (b, a) }
    assert(exact.nonEmpty, "fixture should contain batch-corpus near-dups")
    assert((exact -- cands).isEmpty, s"index probe missed: ${exact -- cands}")
    // and no candidate pairs a batch doc with another batch doc — the
    // corpus side comes exclusively from the standing index
    assert(cands.forall { case (b2, c) => b2 % 5 == 0 && c % 5 != 0 })
  }

  test("standing band index round-trips through parquet; probes agree across sessions") {
    // the SessionMemo/localCheckpoint pin stands in for what production
    // materializes as a parquet table — prove that claim executable:
    // write the index, reload it in a FRESH session, probe identically
    val docs = Tables.t(spark, sf001, "documents")
    val index = Dedup.bandKeys(docs.where(col("doc_id") % 5 =!= 0), k = 32, bands = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_").toString
    try {
      index.write.mode("overwrite").parquet(dir)
      val s2 = spark.newSession()
      val reloaded = s2.read.parquet(dir)
      val probe = Dedup.incrementalCandidates(
        Tables.t(s2, sf001, "documents").where(col("doc_id") % 5 === 0), reloaded)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = Dedup.incrementalCandidates(
        docs.where(col("doc_id") % 5 === 0), index)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(probe === direct, "parquet round-trip changed probe candidates")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("index deletion forgets exactly the requested docs; delete-then-admit round-trips") {
    import spark.implicits._
    val docs = Tables.t(spark, sf001, "documents")
    val slice = pmod(col("doc_id"), lit(5L))
    val full = Dedup.bandKeys(docs.where(slice =!= 0), k = 32, bands = 16)
    val forgotten = docs.where(slice === 1).select("doc_id")
    val shrunk = Dedup.deleteFromBandIndex(full, forgotten)
    // exactly the retained docs' rows remain
    val rebuilt = Dedup.bandKeys(docs.where(slice >= 2), k = 32, bands = 16)
    assert(shrunk.count() === rebuilt.count(),
      "deletion removed more or fewer rows than the forgotten docs owned")
    assert(shrunk.where(pmod(col("doc_id"), lit(5L)) === 1).count() === 0L,
      "forgotten docs still have index rows")
    // idempotent: deleting absent ids is a no-op
    assert(Dedup.deleteFromBandIndex(shrunk, forgotten).count() === shrunk.count())
    // update = delete-then-admit round-trips to the original index
    val readmitted = Dedup.mergeBandIndex(shrunk, docs.where(slice === 1))
    assert(readmitted.count() === full.dropDuplicates("doc_id", "band", "bkey").count(),
      "delete-then-admit did not round-trip")
  }

  test("streaming ingest loop: live engine finds exactly the cross-slice pairs") {
    val docs = Tables.t(spark, sf001, "documents")
    // every near-dup pair whose members arrive in different micro-batches
    // (slice = doc_id pmod 4), keyed batch_doc = the later-arriving member
    val crossSlice = pairsOf(Dedup.ngramJaccardPairs(docs, 0.5))
      .filter { case (a, b) => a % 4 != b % 4 }
      .map { case (a, b) => if (a % 4 > b % 4) (a, b) else (b, a) }
    val out = DedupQueries.streamingIngestPairsFor(spark, sf001, 0.5)
      .select("batch_doc", "corpus_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(crossSlice.nonEmpty, "fixture should contain cross-slice near-dups")
    assert(out === crossSlice,
      s"missed: ${crossSlice -- out}; extra: ${out -- crossSlice}")
  }

  test("streaming forget loop: live engine converges to the minus-forgotten build") {
    // the x_stream_index_forget builder's in-engine requires gate
    // streamed ≡ direct-minus-forgotten identity, zero leaked index
    // rows for forgotten ids, and the same-batch admit+forget conflict
    // (ids ≡ 3 mod 20) ending absent — this drive surfaces any of
    // those as a spec failure
    val r = graft.SparkEntry.queries("x_stream_index_forget")(spark, sf001).collect()(0)
    assert(r.getAs[Boolean]("converged") && r.getAs[Boolean]("purged_ok"), r.toString)
    assert(r.getAs[Long]("n_forgotten") > 0)
  }

  test("maintained band index converges to the rebuilt index; probes agree") {
    // the x_dedup_index_update contract: appending an admitted batch's
    // band keys to a standing index yields EXACTLY the index a full
    // rebuild over the combined corpus produces — so every future probe
    // is indistinguishable, and ingest never has to re-band the corpus
    val docs = Tables.t(spark, sf001, "documents")
    val corpus0 = docs.where(col("doc_id") % 5 >= 2)
    val batch1 = docs.where(col("doc_id") % 5 === 1)
    val merged = Dedup.mergeBandIndex(Dedup.bandKeys(corpus0, 32, 16), batch1)
    val rebuilt = Dedup.bandKeys(docs.where(col("doc_id") % 5 =!= 0), 32, 16)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(keys(merged) === keys(rebuilt),
      "merged index diverged from a full rebuild")
    // and the probe sees no difference: candidates from the maintained
    // index equal candidates from the rebuilt one
    val batch2 = docs.where(col("doc_id") % 5 === 0)
    def cands(ix: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalCandidates(batch2, ix)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands(merged) === cands(rebuilt))

    // idempotence (r13 advisor fix): replaying the same admitted batch
    // (an at-least-once ingest retry) or re-admitting already-indexed
    // docs must NOT duplicate band-key rows — the convergence contract
    // holds for overlapping admissions, not just disjoint ones
    val replayed = Dedup.mergeBandIndex(merged, batch1)
    assert(keys(replayed) === keys(rebuilt),
      "replaying an admitted batch duplicated index rows")
    assert(replayed.count() === rebuilt.dropDuplicates("doc_id", "band", "bkey").count())
  }

  test("substring dedup marks shifted copied runs and excises exactly them") {
    // b copies a's tokens 2..11 at a DIFFERENT offset (after 2 junk tokens):
    // shift-invariance is the point. n=4 windows cover b's positions 2..11;
    // a (the owner) stays untouched; c shares nothing.
    val a = (1 to 12).map(i => s"t$i")
    val b = Seq("x1", "x2") ++ a.slice(1, 11)
    val c = Seq("u1", "u2", "u3", "u4", "u5")
    val toks = Seq((10L, a.toArray), (20L, b.toArray), (30L, c.toArray))
      .toDF("doc_id", "ws")
    val out = Dedup.substrDedup(toks, n = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    assert(out(10L) == ((12L, 0L, md5Of(a.mkString(" ")))))
    assert(out(30L)._2 == 0L)
    // b: positions 2..11 covered (10 tokens), clean text = the junk prefix
    assert(out(20L) == ((12L, 10L, md5Of("x1 x2"))))
  }

  test("substring dedup on the fixture agrees with the jaccard near-dup pairs") {
    val docs = Tables.t(spark, sf001, "documents")
    val toks = docs.select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
    val frac = Dedup.substrDedup(toks, n = 8)
      .select("doc_id", "dup_frac").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every planted jaccard≈0.98 near-dup pair must surface as heavy span
    // coverage on its higher-id (non-owner) side...
    val pairs = pairsOf(Dedup.ngramJaccardPairs(docs, 0.5))
    assert(pairs.nonEmpty)
    pairs.foreach { case (_, b) =>
      assert(frac(b) > 0.5, s"near-dup doc $b has dup_frac ${frac(b)}")
    }
    // ...while the word-salad bulk of the corpus stays unmarked
    assert(frac.values.count(_ == 0.0) > frac.size / 2, "over-marking")
  }

  test("quality-aware keepers keep the longest doc per cluster, untouched docs always") {
    val docs = Seq(
      (1L, "a b"),           // cluster {1,2,3}: 3 is longest -> keeper
      (2L, "a b c"),
      (3L, "a b c d"),
      (4L, "x y"),           // cluster {4,5}: tie on length -> min id 4
      (5L, "x z"),
      (9L, "lonely doc")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "cluster")
    val kept = Dedup.clusterKeepersBest(docs, clusters,
      size(split(col("text"), " ")).cast("long"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 9L))
    // contrast: the min-id-label rule keeps 1 and 4
    val minId = Dedup.clusterKeepers(docs, clusters)
      .collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 4L, 9L))
  }

  test("null-text docs drop silently from every shingle-backed family") {
    // kernel: NULL text -> no features (the oracles' str_split(NULL) ->
    // unnest outcome), not an NPE inside the typed flatMaps
    assert(DedupKernels.shingleHashes(null).isEmpty)
    val docs = Seq(
      (1L, "a b c d e f g a b c d e f g"),
      (2L, "a b c d e f g a b c d e f h"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val jac = Dedup.ngramJaccardPairs(docs, 0.5)
    assert(pairsOf(jac) == Set((1L, 2L)))
    assert(Dedup.withMinhash(docs, 16).count() == 2)
    assert(Dedup.withSimhash(docs).count() == 2)
    assert(Dedup.contamination(docs, benchMod = 3).count() == 0)
  }

  private def md5Of(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }
}
