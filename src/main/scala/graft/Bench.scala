package graft

import org.apache.spark.GraftListenerBus

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // optional subset run (scale certification reruns only the expensive
    // queries at sf1) + alternate artifact name so a subset run never
    // clobbers the full-board bench_full.json
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val spark = Sessions.local(cpus, cpus)
    // untimed warmup: JVM/codegen/FS-cache startup otherwise lands on
    // whichever query happens to run first and skews its number
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // best-of-3 per query: a single pass is at the mercy of whole-machine
    // contention and GC timing (observed 1.4s..51s on the same query).
    // The MIN is the query's real cost; the MEDIAN rides along so a
    // regression is separable from measurement contention WITHOUT a
    // rerun (min up + median up = real; min flat + median up = noise).
    // A rep that throws must be LOUD, not a silently-recorded elapsed
    // time: the round-10 artifact benchmarked exception paths for eight
    // queries (unpersist sweep had poisoned memoized checkpoints) and
    // nothing in the output said so. Failures are collected, printed,
    // surfaced in the JSON line, and fail the process.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // r18 diagnostic mode (SPARK_GRAFT_JOBLOG=1): count Spark jobs/
    // stages/tasks per timing via a listener and print them after each
    // query. Wall-clock on a shared sandbox swings ±50% run-to-run;
    // job/stage/task counts are DETERMINISTIC, so a pass-count
    // optimization is provable even when the clock is noisy. Off for
    // committed artifacts — it changes nothing about the timing
    // methodology, it only prints beside it.
    val jobLog = sys.env.contains("SPARK_GRAFT_JOBLOG")
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    // SPARK_GRAFT_JOBLOG=verbose additionally prints each job's callsite
    // + description as it starts — the per-job attribution used to find
    // which operator owns a row's job count (diagnostic only)
    val jobLogVerbose = sys.env.get("SPARK_GRAFT_JOBLOG").contains("verbose")
    if (jobLog) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
          tasks.addAndGet(j.stageInfos.map(_.numTasks.toLong).sum)
          if (jobLogVerbose) {
            val desc = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
            val site = j.stageInfos.lastOption.map(_.name).getOrElse("")
            println(s"JOBSTART ${j.jobId} tasks=${j.stageInfos.map(_.numTasks).sum} " +
              s"site=${site.take(90)} desc=${desc.take(60)}")
          }
        }
      })
    // listener events ride an async bus, so counters sampled the instant
    // an action returns can miss this query's tail events or absorb the
    // previous query's (ADVICE r18): AFTER the timed action (never inside
    // the timing) drain the bus — every event of the finished jobs has
    // then reached the counters — before differencing.
    def timeOnce(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      if (jobLog) GraftListenerBus.drain(spark.sparkContext)
      val (j0, s0, t0n) = (jobs.get(), stages.get(), tasks.get())
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          failed.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          println(s"BENCH FAILURE $name: $e")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (jobLog) {
        GraftListenerBus.drain(spark.sparkContext)
        println(f"JOBLOG $name jobs=${jobs.get() - j0} " +
          f"stages=${stages.get() - s0} tasks=${tasks.get() - t0n} sec=$dt%.2f")
      }
      dt
    }
    // a requested-but-unregistered name (typo in bench_sf1.sh) must fail
    // loudly — silently shrinking a certification run reads as coverage
    only.foreach { req =>
      val unknown = req -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        sys.error(s"SPARK_GRAFT_QUERIES names not in the registry: ${unknown.mkString(", ")}")
    }
    // Deterministic SORTED run order: `queries` is a hash Map, so adding
    // one query used to reshuffle every neighbor pairing between rounds
    // (the round-9 b_jn15 investigation). Sorted order keeps each
    // query's predecessor fixed across rounds, making per-round
    // comparisons apples-to-apples.
    val board = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // REP-MAJOR passes (round-11 verdict #1): run the 3 reps as 3 full
    // sorted passes over the board instead of back-to-back triples. A
    // whole-machine contention window then lands on DIFFERENT queries
    // each pass, so min-of-3 stays robust — the r11 driver artifact had
    // one window cover all 3 back-to-back reps of ~14 contiguous b_jn*
    // queries, inflating min AND median 4-6x with nothing in the output
    // able to tell. Sorted order within a pass keeps the r10
    // comparability win.
    val passes = (1 to 3).map { _ =>
      board.map { case (name, fn) =>
        val t = timeOnce(name, fn)
        // cross-query state hygiene: several operators localCheckpoint
        // corpus-derived frames and never unpersist — leaked blocks
        // shrink the unified-memory pool for whoever runs NEXT (sort
        // spills), a run-order-dependent tax. Dropping leaked blocks
        // after every timing keeps each measurement independent of its
        // neighbors.
        // BLOCKING unpersist (r12 sf10 OOM root cause): blocking=false
        // removes the blocks ASYNCHRONOUSLY, and the local block
        // manager's removal worker drains far slower than the bench's
        // query cadence (measured: 6 of 31 rdd blocks removed in ~10 s
        // while BlockInfoManager showed the remover's write lock
        // walking the list) — so at sf10 the next queries ran against a
        // heap still strongly holding ~7.4 GB of doomed localCheckpoint
        // pair-core blocks (each solo-passes; the LIST OOM'd at 8g).
        // blocking=true makes the sweep wait between timings, where the
        // wait belongs, instead of silently taxing the next query.
        // PINNED exemption (cost-owner semantics): SessionMemo frames
        // registered as pinned are shared standing artifacts —
        // certification-contract baselines (brute top-k, exact pair
        // set), standing indexes/models (incremental-dedup band index,
        // BPE vocab), and the dedup pair core / CC clusters. Sweeping
        // those between reps charges the same build cost to every query
        // that rides the artifact (the brute top-k re-priced the
        // PQ/LSH/IVF rows ~14x at sf1; five sf1 dedup rows each
        // re-reported the same pair-core rebuild). EVERY pinned artifact
        // instead has exactly one dedicated owner row that computes it
        // directly, bypassing the memo, at full standalone price
        // (x_sim_topk_brute, x_dedup_embed, x_dedup_ngram_jaccard,
        // x_dedup_cc_clusters, x_dedup_minhash for the banding class,
        // x_text_bpe_learn); all other rows measure their marginal work
        // over the standing artifact — the library-path split.
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .filterNot(r => graft.llm.SessionMemo.isPinned(r))
          .foreach(_.unpersist(true))
        // diagnostic mode (SPARK_GRAFT_HEAP_LOG=1): after each timing +
        // sweep, force a full GC and log what SURVIVES — used heap,
        // persistent-RDD count, storage memory — to locate cross-query
        // retention (the sf10 full-list OOM investigation; r11 verdict
        // wrong-#2). GC per timing distorts latencies, so the mode is
        // never on for committed artifacts.
        if (sys.env.contains("SPARK_GRAFT_HEAP_LOG")) {
          System.gc(); Thread.sleep(200); System.gc()
          val rt = Runtime.getRuntime
          val usedMb = (rt.totalMemory - rt.freeMemory) / (1024 * 1024)
          val stor = spark.sparkContext.getExecutorMemoryStatus
            .values.map { case (max, free) => max - free }.sum / (1024 * 1024)
          println(s"HEAPLOG $name used=${usedMb}MB persistentRDDs=" +
            s"${spark.sparkContext.getPersistentRDDs.size} storageUsed=${stor}MB")
          // attribution mode: a live-object class histogram of THIS JVM
          // at the retention point (jcmd ships with the JDK)
          if (sys.env.contains("SPARK_GRAFT_HEAP_HISTO")) {
            // diagnostic-only: a JRE without jcmd must skip the
            // histogram, not abort the board mid-run
            try {
              val pid = ProcessHandle.current().pid()
              val pr = new ProcessBuilder("jcmd", pid.toString, "GC.class_histogram")
                .redirectErrorStream(true).start()
              val out = new String(pr.getInputStream.readAllBytes())
              println(out.linesIterator.take(28).mkString("\n"))
            } catch { case e: Throwable => println(s"HEAPHISTO unavailable: $e") }
          }
        }
        name -> t
      }.toMap
    }
    // a query that failed ANY rep is excluded from the totals and the
    // per-query maps entirely (exception-path elapsed times are not
    // query costs — the round-10 lesson); it is reported only via the
    // "failed" array + exit code, so a consumer that ignores the flag
    // still never ingests contaminated numbers.
    val ok = board.map(_._1).filterNot(failed.contains)
    val samples = ok.map { name => name -> passes.map(_(name)).sorted }
    val results = samples.map { case (name, s) => name -> s.head }
    val medians = samples.map { case (name, s) => name -> s(1) }
    // The driver parses the JSON line out of the LAST ~2000 chars of
    // stdout, so the artifact must be recoverable three ways:
    //  1. the COMPLETE per-query map is persisted to bench_full.json in
    //     the repo root — never at the mercy of a stdout tail cap;
    //  2. the full-map line prints first (for the log);
    //  3. a compact line — slowest queries + the baseline-comparable
    //     scan shapes — prints LAST, small enough to always sit inside
    //     the tail window (build.sbt sets StdoutOutput so no "[info] "
    //     prefix breaks the parse).
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def jmap(qs: Iterable[(String, Double)]): String =
      qs.map { case (k, v) => s"\"" + k + "\":" + f2(v) }.mkString("{", ",", "}")
    def line(qs: Iterable[(String, Double)], extra: String): String = {
      val total = results.map(_._2).sum
      s"""{"metric":"total","value":${f(total)},"unit":"sec"$extra,"queries":${jmap(qs)},"sf":"$sfDir"}"""
    }
    val failedJson =
      if (failed.isEmpty) ""
      else s""","failed":${failed.keys.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val fullLine = line(results,
      s""","n_queries":${results.size},"runs_per_query":3$failedJson,"queries_median":${jmap(medians)}""")
    try {
      val p = java.nio.file.Paths.get(outFile).toAbsolutePath
      java.nio.file.Files.write(p, (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"bench full per-query map written to $p")
    } catch { case e: Throwable => println(s"$outFile write failed: $e") }
    println(fullLine)
    val headline = Set("b_prj1_project", "b_src1_scan", "b_agg1_hash_agg", "b_fnm1_math",
      "b_fnc1_cast", "b_snk1_insert_roundtrip", "b_src4_connector_scan")
    val compact = results.sortBy(-_._2)
      .filter { case (k, v) => v >= 0.25 || headline(k) }
      .take(40)
    println(line(compact, s""","n_queries":${results.size}$failedJson"""))
    if (failed.nonEmpty) {
      println(s"BENCH HAD ${failed.size} FAILING QUERIES — timings for these are exception paths, NOT query costs:")
      failed.foreach { case (n, e) => println(s"  $n -> $e") }
    }
    spark.stop()
    // see Verify: a leaked stub-server dispatcher must not block JVM exit
    System.exit(if (failed.nonEmpty) 1 else 0)
  }
}
