package graftbench

import java.io.File

import graft.{QueryDef, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `sql`: the ClickHouse SQL surface. The registered `b_sql*` queries run
  * over the fixture directory, each executed to completion, in an order
  * drawn from the seed and then fixed for the run; one cycle is one pass
  * over all of them.
  *
  * Set-up loads the query registry and reads the fixture tables' schemas.
  * Each query runs once untimed and then twice timed (each timed execution
  * is one op): the timed executions see the query warm, as repeated
  * queries are. The first result of every query is written for the
  * DuckDB oracle check (run.py) and fingerprinted; every timed execution
  * must reproduce it.
  *
  * A traced op splits the query into the closure that builds it
  * (`sql.build`, holding Spark's own "parsing" and "analysis" phases of
  * the final statement as children), optimization, physical planning and
  * execution. */
final class Sql(spark: SparkSession, seed: Long, data: String, resultsDir: File) extends Workload {
  private var order: IndexedSeq[QueryDef] = IndexedSeq.empty
  private val fingerprints = scala.collection.mutable.Map.empty[String, (Int, Int)]
  private val firstResults = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Row], StructType)]
  // Spark's parse/analyze phase seconds of the traced ops, by op id
  private val phases = scala.collection.mutable.Map.empty[Long, (Double, Double)]

  def setup(): Unit = {
    Ingest.deleteTree(resultsDir)
    resultsDir.mkdirs()
    val defs = SparkEntry.allDefs.filter(q => Sql.selected(q.name)).sortBy(_.name)
    Check(defs.size >= Sql.MinQueries, s"only ${defs.size} b_sql* queries selected")
    java.nio.file.Files.writeString(new File(resultsDir, "oracle_sql.json").toPath,
      Json.obj(defs.flatMap(q => q.oracle.map(sql => q.name -> Json.str(sql)))))
    Tables.all.foreach(t => Tables.t(spark, data, t).schema)
    order = new scala.util.Random(seed).shuffle(defs).toIndexedSeq
  }

  def cycleLength: Int = Sql.TimedRuns * order.size

  def op(i: Long, ctx: Ctx): Op = {
    val q = order(Math.floorMod(i / Sql.TimedRuns, order.size.toLong).toInt)
    val tr = ctx.tr
    // before a query's timed executions, an untimed one, so the timed ones
    // see the query warm (Spark's generated code for it compiled, its
    // files' metadata read), as the board's repeated runs do; on the first
    // pass its result is the one run.py checks against the DuckDB oracle
    if (i % Sql.TimedRuns == 0) {
      val warmDf = q.build(spark, data)
      val warmRows = warmDf.collect()
      if (!fingerprints.contains(q.name)) {
        fingerprints(q.name) = (warmRows.length, fingerprint(warmRows))
        firstResults += ((q.name, warmRows, warmDf.schema))
      }
      sweep()
    }
    val (rows, dt, c) = ctx.timed {
      tr("sql.query") {
        val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
        val df = tr("sql.build") { q.build(spark, data) }
        if (tr.on) recordPhases(i, df, tr, offsetNs)
        tr("sql.optimize") { df.queryExecution.optimizedPlan }
        tr("sql.plan") { df.queryExecution.executedPlan }
        tr("sql.execute") { df.collect() }
      }
    }
    val (n, fp) = fingerprints(q.name)
    Check(rows.length == n && fingerprint(rows) == fp,
      s"${q.name}: result (${rows.length} rows) differs from its first result ($n rows)")
    sweep()
    Op(i, dt, 1.0, q.name, c)
  }

  /** Spark's parsing/analysis phases of the built statement, as children
    * of the build span (they ran inside the closure). */
  private def recordPhases(i: Long, df: DataFrame, tr: Tracer, offsetNs: Long): Unit = {
    val build = tr.lastId
    val ph = df.queryExecution.tracker.phases
    def sec(p: String) = ph.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    Seq("parsing" -> "sql.parse", "analysis" -> "sql.analyze").foreach { case (p, name) =>
      ph.get(p).foreach(s => tr.record(name, s.startTimeMs * 1000000L + offsetNs,
        s.endTimeMs * 1000000L + offsetNs, build))
    }
    phases(i) = (sec("parsing"), sec("analysis"))
  }

  /** Order-insensitive digest of a result; doubles rounded to 6 places. */
  private def fingerprint(rows: Array[Row]): Int =
    rows.map(r => r.toSeq.map {
      case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
      case f: Float => BigDecimal(f.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
      case v => String.valueOf(v)
    }.mkString("\u0001")).sorted.toSeq.hashCode

  /** Drop what a query left cached, as the board does between queries
    * (pinned standing artifacts stay). */
  private def sweep(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => graft.llm.SessionMemo.isPinned(r))
      .foreach(_.unpersist(true))
  }

  /** Writes each query's first result as parquet for run.py's oracle
    * check. The writes are job-overhead bound, so they go out four at a
    * time. */
  def finalChecks(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Sizes.Cores)
    try firstResults.toSeq.map { case (name, rows, schema) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(new File(resultsDir, name).getAbsolutePath)
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  def details(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val passes = ops.size.toDouble / cycleLength
    Seq(("queries_per_pass", order.size.toDouble, "count"), ("passes", passes, "count"))
  }

  def layers(tr: Tracer, ops: Seq[Op]): Seq[(String, Double)] = {
    def secs(op: Long, name: String): Double = tr.opSeconds(op, name)
    def mean(f: Op => Double): Double = ops.map(f).sum / ops.size
    Seq(
      "sql.parse_s" -> mean(o => phases(o.id)._1),
      "sql.analyze_s" -> mean(o => phases(o.id)._2),
      "sql.optimize_s" -> mean(o => secs(o.id, "sql.optimize")),
      "sql.plan_s" -> mean(o => secs(o.id, "sql.plan")),
      "sql.execute_s" -> mean(o => secs(o.id, "sql.execute")),
      "sql.build_other_s" -> mean(o => secs(o.id, "sql.build") - phases(o.id)._1 - phases(o.id)._2),
      "sql.span_coverage" -> Stats.median(ops.map { o =>
        Seq("sql.build", "sql.optimize", "sql.plan", "sql.execute").map(secs(o.id, _)).sum / o.seconds
      }))
  }
}

object Sql {
  /** Every fourth registered query, `b_sql<n>_*` with n % 4 == 1 (15 of
    * the 59, b_sql1_text_query and b_sql41_lateral_topk among them): two
    * executions of all 59 take about a minute on four cores, more than a
    * run can spend. */
  def selected(name: String): Boolean = name match {
    case Numbered(n) => n.toInt % 4 == 1
    case _ => false
  }
  private val Numbered = "b_sql(\\d+)_.*".r
  val MinQueries = 12
  /** Timed executions per query and pass, after one untimed one. */
  val TimedRuns = 2
}
