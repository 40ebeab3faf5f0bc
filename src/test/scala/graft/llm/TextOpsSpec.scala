package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("naive-Bayes language ID learns a corpus with real signal") {
    // Synthetic bilingual corpus with disjoint-ish vocab; docs 0,5,10,...
    // are the training slice (languageId trains on doc_id % 5 == 0).
    val enWords = Seq("the", "cat", "sat", "on", "mat", "dog", "runs", "fast")
    val frWords = Seq("le", "chat", "est", "sur", "tapis", "chien", "court", "vite")
    val rng = new scala.util.Random(7)
    def doc(words: Seq[String]) = Seq.fill(30)(words(rng.nextInt(words.size))).mkString(" ")
    val rows = (0L until 200L).map { i =>
      if (i % 2 == 0) (i, doc(enWords), "en") else (i, doc(frWords), "fr")
    }
    val docs = rows.toDF("doc_id", "text", "lang")
    val preds = TextOps.languageId(docs)
    val test = preds.filter(col("doc_id") % 5 =!= 0)
    val acc = test.filter(col("pred_lang") === col("true_lang")).count().toDouble / test.count()
    assert(acc >= 0.95, s"langid accuracy on signal-bearing corpus: $acc")
  }

  test("quality classifier recovers the planted signal on the fixture") {
    // x_qual_classifier's accuracy contract: the batch perceptron must
    // linearly separate target-language docs once the per-language
    // marker phrase is planted (the raw fixture text carries no signal)
    val out = graft.SparkEntry.queries("x_qual_classifier")(spark, sf001)
    val n = out.count().toDouble
    val correct = out.filter(col("pred") === col("y")).count().toDouble
    assert(n > 0 && correct / n >= 0.95,
      s"classifier accuracy ${correct / n} below the planted-signal bar")
  }

  test("quality apply scores the ingest batch against standing weights, never retrains") {
    // the production split: weights are built once per (session,
    // fixture) — the memo hands back the SAME frame on every batch
    val w1 = TextOps.qualWeightsFor(spark, sf001)
    val w2 = TextOps.qualWeightsFor(spark, sf001)
    assert(w1 eq w2, "standing weights were retrained on the second call")
    // held-out generalization: weights trained on doc_id % 5 != 0 must
    // classify the UNSEEN % 5 == 0 batch on the planted fixture
    val out = graft.SparkEntry.queries("x_qual_apply")(spark, sf001)
    val n = out.count().toDouble
    val acc = out.filter(col("pred") === col("y")).count() / n
    assert(n > 0 && acc >= 0.95, s"held-out batch accuracy $acc")
  }

  test("model maintenance: continued training keeps held-out accuracy on the planted signal") {
    // x_qual_update's contract: standing weights (slices {2,3,4}) are
    // CONTINUED on a newly-labeled batch (slice 1, batch features only)
    // and the updated model must still classify the unseen slice-0
    // batch — the continual fine-tune must not forget the signal
    val out = graft.SparkEntry.queries("x_qual_update")(spark, sf001)
    val n = out.count().toDouble
    val acc = out.filter(col("pred") === col("y")).count() / n
    assert(n > 0 && acc >= 0.95, s"post-update held-out accuracy $acc")
  }

  test("quality classifier hits a zero-gradient fixpoint once separated") {
    // balanced synthetic corpus with disjoint vocabularies: iteration 1
    // already separates it (w1 = corpus-wide Σ y·x), so every further
    // iteration's misclassified set is empty and the weights stop
    // changing — iters=1 and iters=4 must produce identical frames.
    // Also pins integer determinism across reruns.
    val posW = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val negW = Seq("golf", "hotel", "india", "juliet", "kilo", "lima")
    val rows = (0L until 40L).map { i =>
      val ws = if (i % 2 == 0) posW else negW
      (i, if (i % 2 == 0) 1 else -1, (ws ++ ws.take(3)).mkString(" "))
    }
    val labeled = rows.toDF("doc_id", "y", "text")
    def res(iters: Int) =
      TextOps.trainQualityClassifier(labeled, iters)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    val once = res(1)
    assert(once === res(4), "extra iterations moved a converged model")
    assert(once === res(1), "rerun diverged — training is not deterministic")
    assert(once.forall { case (_, y, _, pred) => pred === y })
  }

  test("rolling-hash fingerprint is order-sensitive and deterministic") {
    val docs = Seq((1L, "abc"), (2L, "acb"), (3L, "abc")).toDF("doc_id", "text")
    val fp = graft.SparkEntry.queries("x_text_fingerprint") // reuse declared program shape
    val out = docs.select(col("doc_id"), expr(
      """aggregate(filter(split(text, ''), c -> c <> ''), CAST(0 AS BIGINT),
        |  (acc, c) -> pmod(acc * 31 + ascii(c), 1000000007))""".stripMargin).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === out(3L))
    assert(out(1L) !== out(2L))
    // Karp-Rabin base-31: "abc" = (97*31 + 98)*31 + 99
    assert(out(1L) === ((97L * 31 + 98) * 31 + 99) % 1000000007)
  }

  test("token counts match a local tokenizer on a sample") {
    val sample = graft.Tables.t(spark, sf0001, "documents").limit(20)
    val got = graft.llm.TextOpsQueries.defs.find(_.name == "x_text_tokens").get
      .build(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sample.select("doc_id", "text").collect().foreach { r =>
      val expected = r.getString(1).trim.split("\\s+").length.toLong
      assert(got(r.getLong(0)) === expected)
    }
  }

  test("trigram LM scores natural text above gibberish") {
    import spark.implicits._
    val natural = (1 to 40).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog and runs through the field"))
    val gibber = (41 to 50).map(i =>
      (i.toLong, s"zq9x7vk${i}k3jw0pqy8rr2mnb5tt1uu6ccd4eef"))
    val docs = (natural ++ gibber).toDF("doc_id", "text")
    val scored = TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val natAvg = natural.map(x => scored(x._1)).sum / natural.size
    val gibAvg = gibber.map(x => scored(x._1)).sum / gibber.size
    assert(natAvg > gibAvg + 1.0, s"natural $natAvg vs gibberish $gibAvg")
  }

  test("bm25 ranks term-matching docs first and matches a hand-computed score") {
    // doc 0 is the query ("cat mat"); doc 1 shares both terms, doc 2 one,
    // doc 3 none. Expected order: 1, 2 (3 scores nothing, never appears).
    val docs = Seq(
      (0L, "cat mat"),
      (1L, "cat mat cat"),
      (2L, "cat dog bird fish"),
      (3L, "dog bird fish worm")).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, col("doc_id") === 0, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L), s"rank order: ${out.toSeq}")
    // hand-check doc 1's score: N=4, avgdl=13/4; cat df=3, mat df=2
    val n = 4.0; val avgdl = 13.0 / 4.0
    def idf(df: Double) = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def w(tf: Double, dl: Double, df: Double) =
      idf(df) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val expect = BigDecimal(w(2, 3, 3) + w(1, 3, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0)._2 === expect, s"doc 1 score ${out(0)._2} != $expect")
    // query doc never scores itself
    assert(!out.map(_._1).contains(0L))
  }

  test("standing BM25 index: built once, probe agrees with the rebuild path") {
    val p1 = TextOps.bm25IndexFor(spark, sf001)
    val p2 = TextOps.bm25IndexFor(spark, sf001)
    assert(p1 eq p2, "postings table was rebuilt on the second probe")
    val docs = graft.Tables.t(spark, sf001, "documents")
    val isQ = col("doc_id") % 50 === 0 && col("doc_id") < 5000
    def ranked(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), (Double, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val probe = ranked(TextOps.bm25IndexProbe(spark, sf001, docs.where(isQ), k = 5))
    val rebuild = ranked(TextOps.bm25TopK(docs, isQ, k = 5))
    assert(probe.keySet === rebuild.keySet,
      "standing-index probe returned a different result set than the rebuild path")
    probe.foreach { case (key, (score, rank)) =>
      val (s2, r2) = rebuild(key)
      assert(rank === r2 && math.abs(score - s2) < 2e-6,
        s"probe/rebuild divergence at $key: ($score,$rank) vs ($s2,$r2)")
    }
  }

  test("BM25 index maintenance: merged state converges; merge is idempotent") {
    val docs = graft.Tables.t(spark, sf001, "documents")
    val slice = pmod(col("doc_id"), lit(5L))
    val p0 = TextOps.bm25Postings(docs.where(slice >= 2))
    val ts0 = p0.groupBy("term").agg(count(lit(1)).as("df"))
    val r0 = p0.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl")).collect()(0)
    val (p1, ts1, n1, sdl1) =
      TextOps.mergeBm25Index(p0, ts0, r0.getLong(0), r0.getLong(1), docs.where(slice === 1))
    // rebuilt from the combined corpus
    val pr = TextOps.bm25Postings(docs.where(slice =!= 0))
    val tsr = pr.groupBy("term").agg(count(lit(1)).as("df"))
    val rr = pr.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl")).collect()(0)
    def dfMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n1 === rr.getLong(0) && sdl1 === rr.getLong(1),
      "merged corpus scalars diverged from a full rebuild")
    assert(dfMap(ts1) === dfMap(tsr), "merged term dfs diverged from a full rebuild")
    assert(p1.count() === pr.count(), "merged postings diverged from a full rebuild")
    // idempotence: re-admitting the same batch is a no-op
    val (p2, ts2, n2, sdl2) = TextOps.mergeBm25Index(p1, ts1, n1, sdl1, docs.where(slice === 1))
    assert(n2 === n1 && sdl2 === sdl1 && p2.count() === p1.count(),
      "replaying an admitted batch changed the index")
    assert(dfMap(ts2) === dfMap(ts1), "replaying an admitted batch changed the dfs")
  }

  test("one-flip BM25 append chain: every crash point serves one consistent (postings, dfs, scalars) triple") {
    val docs = graft.Tables.t(spark, sf001, "documents")
    val slice = pmod(col("doc_id"), lit(5L))
    val p0 = TextOps.bm25Postings(docs.where(slice >= 2))
    val ts0 = p0.groupBy("term").agg(count(lit(1)).as("df"))
    val r0 = p0.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl")).collect()(0)
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_tx_").toString + "/idx"
    TextOps.saveBm25State(path, p0, ts0, r0.getLong(0), r0.getLong(1))

    // the consistency oracle: whatever generation load resolves, its
    // sidecar scalars and dfs table must be EXACTLY recomputable from
    // its manifest's postings — the triple is consistent or the test dies
    def assertConsistent(tag: String): Long = {
      val meta = IndexStore.readMeta(spark, s"$path/state")
      val posts = TextOps.loadBm25Postings(spark, path)
      val r = posts.select("doc_id", "dl").dropDuplicates("doc_id")
        .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl")).collect()(0)
      assert(r.getLong(0) === meta("n").toLong, s"$tag: n diverged from postings")
      assert(r.getLong(1) === meta("sumDl").toLong, s"$tag: sumDl diverged from postings")
      val bad = IndexStore.loadAux(spark, s"$path/state", "dfs").withColumn("m", lit(1))
        .join(posts.groupBy("term").agg(count(lit(1)).as("df")).withColumn("r", lit(1)),
          Seq("term", "df"), "full")
        .where(col("m").isNull || col("r").isNull).count()
      assert(bad === 0L, s"$tag: dfs diverged from postings ($bad rows)")
      r.getLong(0)
    }
    val n0 = assertConsistent("after save")

    // crash A: after the pool write, before the generation stages — the
    // exact window the old three-step chain left inconsistent
    IndexStore.appendHookAfterPool = () => throw new RuntimeException("boom-pool")
    try intercept[RuntimeException] {
      TextOps.appendBm25Index(spark, path, docs.where(slice === 1))
    } finally IndexStore.appendHookAfterPool = () => ()
    assert(assertConsistent("crash after pool write") === n0,
      "a crashed append's orphan pool dir leaked into the served state")

    // crash B: staged generation renamed in, pointer not yet flipped
    IndexStore.commitHookBeforeFlip = () => throw new RuntimeException("boom-preflip")
    try intercept[RuntimeException] {
      TextOps.appendBm25Index(spark, path, docs.where(slice === 1))
    } finally IndexStore.commitHookBeforeFlip = () => ()
    assertConsistent("crash before pointer flip")

    // crash C: inside the pointer flip's delete->rename window
    IndexStore.commitHookMidFlip = () => throw new RuntimeException("boom-midflip")
    try intercept[RuntimeException] {
      TextOps.appendBm25Index(spark, path, docs.where(slice === 1))
    } finally IndexStore.commitHookMidFlip = () => ()
    assertConsistent("crash mid pointer flip")

    // replay heals: the committed chain converges to the direct merge
    TextOps.appendBm25Index(spark, path, docs.where(slice === 1))
    val nFinal = assertConsistent("after replayed append")
    val pr = TextOps.bm25Postings(docs.where(slice =!= 0))
    val rr = pr.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n")).collect()(0)
    assert(nFinal === rr.getLong(0), "healed state diverged from the direct rebuild")

    // compaction flips one generation; the sweep reclaims ORPHANS
    // immediately but gives just-superseded manifest dirs one
    // generation of grace (ADVICE r16: an in-flight reader of the old
    // snapshot must not lose files mid-scan) — so after the first
    // compaction the pool holds the compacted dir + the old manifest's
    // dirs, and the SECOND compaction reclaims those
    TextOps.compactBm25Postings(spark, path)
    assert(assertConsistent("after compact") === nFinal)
    val pool = new org.apache.hadoop.fs.Path(s"$path/state/pool")
    val fs = pool.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val afterFirst = fs.listStatus(pool).count(_.isDirectory)
    assert(afterFirst === 3,
      s"first compaction should keep compacted + 2 graced manifest dirs " +
        s"and sweep the 2 crash orphans, found $afterFirst")
    TextOps.compactBm25Postings(spark, path)
    assert(assertConsistent("after second compact") === nFinal)
    assert(fs.listStatus(pool).count(_.isDirectory) === 2,
      "second compaction should reclaim the graced dirs (steady state = " +
        "live compacted + one graced predecessor)")
  }

  test("one-flip BM25 chain: repeated appends extend the manifest, compaction collapses it, probes stay exact") {
    val docs = graft.Tables.t(spark, sf001, "documents")
    val slice = pmod(col("doc_id"), lit(5L))
    val p0 = TextOps.bm25Postings(docs.where(slice >= 3))
    val ts0 = p0.groupBy("term").agg(count(lit(1)).as("df"))
    val r0 = p0.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl")).collect()(0)
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_multi_").toString + "/idx"
    TextOps.saveBm25State(path, p0, ts0, r0.getLong(0), r0.getLong(1))
    def manifestSize: Int =
      IndexStore.manifestEntries(spark, s"$path/state").size
    assert(manifestSize === 1)
    // two sequential appends: each commits its own generation and
    // extends the manifest by exactly its pool dir
    TextOps.appendBm25Index(spark, path, docs.where(slice === 2))
    assert(manifestSize === 2)
    TextOps.appendBm25Index(spark, path, docs.where(slice === 1))
    assert(manifestSize === 3)
    // replaying an already-admitted batch is a committed no-op: the
    // anti-join empties it, the empty segment is detected from the
    // footers and removed, and no generation commits (r19: the
    // emptiness check moved from a pre-write collect to the written
    // segment's footers — the write is the batch's one materialization)
    TextOps.appendBm25Index(spark, path, docs.where(slice === 2))
    assert(manifestSize === 3, "a replayed batch grew the manifest")
    // the maintained artifact probes value-identically to the direct
    // whole-corpus state at every step of the chain
    val qSel = col("doc_id") % 50 === 0 && col("doc_id") < 5000
    val qTerms = TextOps.bm25Postings(docs.where(qSel))
      .select(col("doc_id").as("query_id"), col("term"))
    val p = TextOps.bm25Postings(docs.where(slice >= 1))
    val ts = p.groupBy("term").agg(count(lit(1)).as("df"))
    val r = p.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl")).collect()(0)
    val direct = TextOps.bm25Score(p, ts, r.getLong(0), r.getLong(1), qTerms, k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "score", "rank").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3))).toSet
    val cold = TextOps.bm25ColdProbe(spark, path, docs.where(qSel), k = 5)
    assert(rows(cold) === rows(direct),
      "multi-append artifact diverged from the direct whole-corpus state")
    // compaction collapses the manifest to one dir and changes nothing
    TextOps.compactBm25Postings(spark, path)
    assert(manifestSize === 1, "compaction left a multi-dir manifest")
    val coldC = TextOps.bm25ColdProbe(spark, path, docs.where(qSel), k = 5)
    assert(rows(coldC) === rows(direct),
      "compaction changed the probe output")
  }

  test("manifest stats pruning: a doc-scoped read opens only the pool dirs whose range covers it") {
    val docs = graft.Tables.t(spark, sf001, "documents")
    // range-DISJOINT batches — the daily-append shape (monotone doc
    // ids), where the manifest's per-segment doc_id ranges can
    // actually separate the pool
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val (t1, t2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val b0 = docs.where(col("doc_id") < t1)
    val p0 = TextOps.bm25Postings(b0)
    val ts0 = p0.groupBy("term").agg(count(lit(1)).as("df"))
    val r0 = p0.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl")).collect()(0)
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_prune_").toString + "/idx"
    TextOps.saveBm25State(path, p0, ts0, r0.getLong(0), r0.getLong(1))
    TextOps.appendBm25Index(spark, path, docs.where(col("doc_id") >= t1 && col("doc_id") < t2))
    TextOps.appendBm25Index(spark, path, docs.where(col("doc_id") >= t2))
    // a doc in the MIDDLE batch: the stats must prune the pool to ONE
    // of the three manifest dirs before any parquet is opened
    val target = ids(ids.length / 2)
    assert(target >= t1 && target < t2)
    val dirs = IndexStore.segmentsFor(spark, s"$path/state", Seq(target))
    assert(dirs.size === 1,
      s"manifest stats pruning opened ${dirs.size} of 3 pool dirs: $dirs")
    // correctness does not ride the stats: the pruned read equals the
    // full-manifest scan filtered to the same doc
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "term", "tf").collect()
        .map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSet
    val pruned = TextOps.bm25PostingsForDocs(spark, path, Seq(target))
    val full = TextOps.loadBm25Postings(spark, path).where(col("doc_id") === target)
    assert(rows(pruned) === rows(full))
    assert(rows(pruned).nonEmpty, "target doc has no postings — vacuous prune test")
    // a doc id OUTSIDE every range prunes to zero dirs and yields the
    // empty frame without opening the pool at all
    val none = TextOps.bm25PostingsForDocs(spark, path, Seq(ids.last + 1000))
    assert(none.count() === 0)
  }

  test("BM25 postings damage is detected by the artifact's manifest audit") {
    val docs = graft.Tables.t(spark, sf001, "documents")
    val slice = pmod(col("doc_id"), lit(5L))
    val p0 = TextOps.bm25Postings(docs.where(slice >= 1))
    val ts0 = p0.groupBy("term").agg(count(lit(1)).as("df"))
    val r0 = p0.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl")).collect()(0)
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_audit_").toString + "/idx"
    TextOps.saveBm25State(path, p0, ts0, r0.getLong(0), r0.getLong(1))
    val state = s"$path/state"
    val saved = IndexStore.manifestEntries(spark, state).map(_.dir)
    assert(TextOps.appendBm25Index(spark, path, docs.where(slice === 0)))
    IndexStore.verifyManifest(spark, state)
    // the postings ARE the artifact's data: losing one parquet file of
    // the appended segment must fail the audit, naming that segment
    val Seq(target) = IndexStore.manifestEntries(spark, state).map(_.dir).diff(saved)
    val file = IndexStore.parquetFiles(spark, s"$state/$target").head
    assert(new java.io.File(file.toUri).delete())
    val e = intercept[IllegalArgumentException](IndexStore.verifyManifest(spark, state))
    assert(e.getMessage.contains(target), e.getMessage)
  }

  test("vocab drift: the board row's statistic is bounded, and self-drift is exactly zero") {
    import org.apache.spark.sql.functions._
    // the board row at sf0.001: tv in [0, 1], integer parts consistent
    val r = graft.SparkEntry.queries("x_retr_vocab_drift")(spark, sf001).collect()(0)
    val tv = r.getAs[Double]("tv")
    assert(tv >= 0.0 && tv <= 1.0, r.toString)
    assert(r.getAs[Long]("n_new_terms") <= r.getAs[Long]("n_terms"))
    // self-drift: identical histograms cancel term-by-term — the
    // integer form makes the zero EXACT, not approximately small
    // (the x_sim_index_drift self-TV convention)
    val z = TextOps.zipfDocs(graft.Tables.t(spark, sf001, "documents"))
    val dfb = TextOps.bm25Postings(z).groupBy("term").agg(count(lit(1)).as("db"))
    val joined = dfb.select(col("db"), col("db").as("dn"))
    val totals = joined.agg(sum("db").as("sb"), sum("dn").as("sn"))
    val self = joined.crossJoin(totals)
      .agg(sum(abs(col("db") * col("sn") - col("dn") * col("sb"))).as("scaled_abs"))
      .collect()(0).getLong(0)
    assert(self === 0L)
  }

  test("tf-idf keywords rank rare heavy terms first") {
    Seq((1L, "a a b c"), (2L, "b c c c"), (3L, "a d d d"))
      .toDF("doc_id", "text").createOrReplaceTempView("kwdocs")
    val dir = java.nio.file.Files.createTempDirectory("kw").toString
    spark.table("kwdocs").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("x_text_keywords")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    // doc 3: 'd' (tf=3, df=1) far outscores 'a' (tf=1, df=2)
    assert(out.filter(_._1 == 3L).sortBy(_._3).map(_._2).toSeq === Seq("d", "a"))
    // every doc yields at most 3 keywords
    assert(out.groupBy(_._1).forall(_._2.length <= 3))
  }

  test("hard negatives are lexically similar but semantically below tau") {
    // docs: 1/2 share the query's words; 3 shares none. Embeddings: doc 1
    // points WITH the query (cos +1 — an easy positive, excluded), doc 2
    // points AGAINST it (cos -1 — the hard negative, kept).
    val docs = Seq(
      (0L, "cat mat rug"),
      (1L, "cat mat rug rug"),
      (2L, "cat mat rug mat"),
      (3L, "dog bird fish")).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(-0.8f, -0.2f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = TextOps.hardNegatives(docs, emb, col("doc_id") === 0,
      kCand = 3, k = 2, tau = 0.0).collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getLong(4)))
    // only doc 2 survives: lexical match (BM25 candidate) AND cos < 0;
    // doc 1 is a positive (cos > 0), doc 3 never scores lexically
    assert(out.map(_._1).toSeq === Seq(2L), out.toSeq.toString)
    assert(out.head._2 < 0.0 && out.head._3 === 1L)
  }

  test("BPE learns the classic merge sequence (greedy-left, count ties break lexically)") {
    // "low" ×5, "lower" ×2, "aaaa" ×3 — pins three behaviors:
    //  1. pair stats count OVERLAPPING positions: [a,a,a,a] has THREE
    //     (a,a) pairs, so (a,a)=9 beats (l,o)=7 for merge 1;
    //  2. the merge pass is greedy-left: [a,a,a,a] → [aa,aa] in one
    //     pass (not [aa,a,a]), leaving (aa,aa)=3 for a later merge;
    //  3. a merged symbol participates in later pairs (lo+w → low).
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower"),
      (3L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val (merges, vocab) = TextOps.learnBpe(docs, nMerges = 4)
    assert(merges.map(m => (m._2, m._3)) ===
      Seq(("a", "a"), ("l", "o"), ("lo", "w"), ("aa", "aa")),
      merges.toString)
    assert(merges.map(_._4) === Seq(9L, 7L, 7L, 3L), merges.toString)
    val seqs = vocab.collect().map(r => r.getString(0) -> r.getString(1).trim).toMap
    assert(seqs("low") === "low")
    assert(seqs("aaaa") === "aaaa")
    assert(seqs("lower") === "low  e  r") // low merged; e,r untouched
    // encode: token count per doc under the learned vocab
    val enc = TextOps.bpeEncode(docs, nMerges = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(enc(1L) === 5L)  // 5 × [low]
    assert(enc(2L) === 6L)  // 2 × [low,e,r]
    assert(enc(3L) === 3L)  // 3 × [aaaa]
  }

  test("streamed BM25 ingest: live engine converges; final probe equals the warm rebuild") {
    // the x_stream_bm25_ingest builder drives 4 micro-batches through the
    // REAL streaming engine (probe-then-merge, per-merge localCheckpoints);
    // its in-engine requires gate postings row-set identity + integer
    // scalar equality vs the direct build. The final probe must be
    // value-identical to scoring through the directly-built corpus state.
    val docs = graft.Tables.t(spark, sf001, "documents")
    val streamed = graft.SparkEntry.queries("x_stream_bm25_ingest")(spark, sf001)
    val p = TextOps.bm25Postings(docs.where(col("doc_id") % 5 =!= 0))
    val ts = p.groupBy("term").agg(count(lit(1)).as("df"))
    val r0 = p.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl"))
      .collect()(0)
    val qTerms = TextOps.bm25Postings(
      docs.where(col("doc_id") % 50 === 0 && col("doc_id") < 5000))
      .select(col("doc_id").as("query_id"), col("term"))
    val direct = TextOps.bm25Score(p, ts, r0.getLong(0), r0.getLong(1), qTerms, k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "score", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(streamed) === rows(direct))
  }

  test("file-source BM25 ingest: files landing DURING the stream are discovered and admitted") {
    // the x_stream_bm25_file_ingest builder writes one backlog parquet
    // file, starts a maxFilesPerTrigger=1 paced readStream, then lands
    // three more files between processAllAvailable fences; its in-engine
    // requires pin >=4 discovered non-empty micro-batches (the two-stage
    // discovery gate), that mid-stream probes ran, and streamed state ≡
    // direct build. The final probe must be value-identical to scoring
    // through the directly-built corpus state.
    val docs = graft.Tables.t(spark, sf001, "documents")
    val streamed = graft.SparkEntry.queries("x_stream_bm25_file_ingest")(spark, sf001)
    val p = TextOps.bm25Postings(docs.where(col("doc_id") % 5 =!= 0))
    val ts = p.groupBy("term").agg(count(lit(1)).as("df"))
    val r0 = p.select("doc_id", "dl").dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sdl"))
      .collect()(0)
    val qTerms = TextOps.bm25Postings(
      docs.where(col("doc_id") % 50 === 0 && col("doc_id") < 5000))
      .select(col("doc_id").as("query_id"), col("term"))
    val direct = TextOps.bm25Score(p, ts, r0.getLong(0), r0.getLong(1), qTerms, k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "score", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(streamed) === rows(direct))
  }
}
