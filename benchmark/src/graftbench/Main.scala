package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point (run through run.py, which builds it).
  *
  * {{{
  * Main --workload wire|sql|ingest --seed N --seconds S --trace 0|1
  *      --data <fixture dir> --work <work dir> --out <result.json>
  * }}}
  *
  * Set-up, an untimed warm-up, then whole op cycles until at least
  * `--seconds` have passed. Untraced
  * (`--trace 0`) this loop gives the end-to-end metrics; traced
  * (`--trace 1`) it also records spans and Spark counters, which give the
  * per-layer metrics. The result is written to `--out` as JSON; run.py
  * prints it and derives the tracing overhead from an untraced result. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: File, out: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), new File(need("work")), new File(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try run(a) catch {
      case e: Throwable =>
        System.err.println(s"benchmark failed: $e")
        e.printStackTrace()
        2
    }
    // StubCHServer dispatcher threads and Spark's own must not keep the
    // JVM alive
    System.exit(code)
  }

  def session(work: File): SparkSession = {
    val s = graft.Sessions.withGraftConfs(SparkSession.builder()
      .master(s"local[${Sizes.Cores}]")
      .config("spark.sql.shuffle.partitions", Sizes.Cores.toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(a: Args): Int = {
    a.work.mkdirs()
    val tStart = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - tStart) / 1e9
    val counters = new Counters(spark)
    val w: Workload = a.workload match {
      case "wire" => new Wire(spark, a.seed, Sizes.WireRows)
      case "sql" => new Sql(spark, a.seed, a.data, new File(a.work, "sql_results"))
      case "ingest" => new Ingest(spark, a.seed, a.data, new File(a.work, "ingest"))
      case other => sys.error(s"unknown workload: $other")
    }
    val tSetup = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - tSetup) / 1e9
    val tr = new Tracer(a.trace)
    val ctx = new Ctx(tr, counters)
    val tWarm = System.nanoTime()
    w.warm(ctx)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    var failures = Vector.empty[String]
    val opsB = Vector.newBuilder[Op]
    var attempted = 0
    val tLoop = System.nanoTime()
    while ((System.nanoTime() - tLoop) / 1e9 < a.seconds || attempted % w.cycleLength != 0) {
      val id = attempted.toLong
      tr.op = id
      try opsB += w.op(id, ctx)
      catch {
        case e: Exception =>
          failures :+= s"op $id: $e"
          System.err.println(s"BENCHMARK OP FAILED (op $id): $e")
      }
      tr.op = -1L
      attempted += 1
    }
    val ops = opsB.result()
    val loopS = (System.nanoTime() - tLoop) / 1e9
    try w.finalChecks() catch {
      case e: Exception =>
        failures :+= s"final checks: $e"
        System.err.println(s"BENCHMARK CHECK FAILED: $e")
    }
    val heapMb = liveHeapMb()

    val e2e = Seq.newBuilder[(String, Double, String)]
    val info = Seq.newBuilder[(String, String)]
    e2e += (("setup_s", setupS, "s"))
    val latency = Seq.newBuilder[(String, Double, String)]
    if (ops.nonEmpty) {
      val lat = ops.map(_.seconds)
      val (tail, pct, n) = Stats.tail(lat)
      e2e += (("work_per_s", ops.map(_.work).sum / lat.sum, "1/s"))
      e2e += (("op_latency_geomean_s", Stats.geomean(lat), "s"))
      latency += (("op_latency_p50_s", Stats.median(lat), "s"))
      latency += (("op_latency_tail_s", tail, "s"))
      info += "op_latency_tail_percentile" -> s"p$pct"
      info += "op_latency_samples" -> n.toString
    }
    e2e += (("heap_live_mb", heapMb, "MB"))
    e2e += (("ops_ok_frac", 1.0 - failures.size.toDouble / attempted, "fraction"))
    info += "session_start_s" -> f"$sessionS%.3f"
    info += "warmup_s" -> f"$warmS%.3f"
    info += "measured_loops_s" -> f"$loopS%.3f"
    info += "failed_ops_frac" -> (failures.size.toDouble / attempted).toString

    val layer = Seq.newBuilder[(String, Double)]
    if (a.trace && ops.nonEmpty) {
      val total = ops.map(_.counters).foldLeft(Counters.Zero)(_ + _)
      val n = ops.size.toDouble
      layer ++= w.layers(tr, ops) ++ Seq(
        "spark.jobs_per_op" -> total.jobs / n,
        "spark.stages_per_op" -> total.stages / n,
        "spark.tasks_per_op" -> total.tasks / n,
        "spark.shuffle_bytes_per_op" -> total.shuffleBytes / n,
        "spark.spill_bytes_per_op" -> total.spillBytes / n)
      tr.write(new File(a.out.getParentFile, a.out.getName.stripSuffix(".json") + ".spans.jsonl"))
      tr.selfTimes.toSeq.sortBy(_._1).foreach { case (name, (cnt, tot, self)) =>
        info += s"self_time_s.$name" -> f"n=$cnt total=$tot%.4f self=$self%.4f"
      }
    }
    val det = latency.result() ++ w.details(ops)

    def metricObj(ms: Seq[(String, Double, String)]) =
      Json.obj(ms.map { case (n, v, u) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val out = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "end_to_end" -> metricObj(e2e.result()),
      "per_layer" -> Json.obj(layer.result().map { case (n, v) => n -> Json.num(v) }),
      "details" -> metricObj(det),
      "info" -> Json.obj(info.result().map { case (k, v) => k -> Json.str(v) })))
    java.nio.file.Files.writeString(a.out.toPath, out)
    spark.stop()
    0
  }

  /** Heap still reachable after a forced full collection, in MB. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(100); System.gc(); Thread.sleep(100)
    mx.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Sizes behind each workload (README.md explains each choice). */
object Sizes {
  val Cores = 4
  val WireRows = 400000
}
