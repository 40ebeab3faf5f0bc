package graft.settings

import graft.{SparkSpec, Tables}
import graft.observe.Progress
import org.apache.spark.sql.functions._

class SettingsSpec extends SparkSpec {
  import spark.implicits._

  test("A15: CH-named settings map onto Spark confs and restore on scope exit") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val s = GraftSettings(Map("max_threads" -> "7", "spark.sql.ansi.enabled" -> "true"))
    s.scoped(spark) {
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "7")
      assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("A15: bound params are bound, not interpolated") {
    Seq((1L, "a'b"), (2L, "x")).toDF("id", "v").createOrReplaceTempView("pv")
    // a value containing a quote must bind safely (injection-proof)
    val out = Params.sql(spark, "SELECT id FROM pv WHERE v = :v", Map("v" -> "a'b"))
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq(1L))
  }

  test("A16: explain modes emit the expected plan sections") {
    val df = Tables.t(spark, sf001, "lineitem")
      .filter(col("l_quantity") > 10).select("l_orderkey", "l_quantity")
    assert(graft.explain.Explain.explain(df, graft.explain.Explain.Formatted)
      .contains("Physical Plan"))
    assert(graft.explain.Explain.explain(df, graft.explain.Explain.Cost).nonEmpty)
    val modes = graft.explain.Explain.all(df)
    assert(modes.keySet === Set("Extended", "Simple", "Formatted", "Cost"))
  }

  test("A16: scanInfo shows parquet filter pushdown and column pruning") {
    val df = Tables.t(spark, sf001, "lineitem")
      .filter(col("l_quantity") > 10).select("l_orderkey", "l_quantity")
    val scan = graft.explain.Explain.scanInfo(df)
    assert(scan.contains("PushedFilters"), scan)
    assert(scan.contains("GreaterThan(l_quantity"), scan)
    // pruned read schema must not include unprojected columns
    assert(!scan.contains("l_comment"), scan)
    assert(graft.explain.Explain.codegenSpans(df) >= 1)
  }

  test("A17: progress bus broadcasts read/output metrics per query") {
    val bus = Progress.install(spark)
    try {
      val n = Tables.t(spark, sf001, "nation").filter(col("n_regionkey") < 3)
      n.write.mode("overwrite").format("noop").save()
      // listener delivery is async
      var tries = 0
      while (bus.events.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(bus.events.nonEmpty, "no progress events received")
      val e = bus.events.last
      assert(!e.failed)
      assert(e.readRows > 0, s"readRows=${e.readRows}")
      assert(e.durationNs > 0)
    } finally spark.listenerManager.unregister(bus)
  }

  test("A17: query_log surface exposes captured events as a DataFrame") {
    val bus = Progress.install(spark)
    try {
      Tables.t(spark, sf001, "region").write.mode("overwrite").format("noop").save()
      var tries = 0
      while (bus.events.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val log = Progress.queryLog(spark, bus)
      assert(log.columns.toSeq ===
        Seq("func_name", "duration_ns", "read_rows", "output_rows", "failed"))
      assert(log.where(col("failed") === false).count() >= 1)
    } finally spark.listenerManager.unregister(bus)
  }

  test("query cache: identical text hits, results match, whitespace normalizes") {
    Tables.t(spark, sf001, "nation").createOrReplaceTempView("qc_nation")
    val qc = new QueryCache(spark)
    try {
      val q = "SELECT n_regionkey, count(*) AS n FROM qc_nation GROUP BY n_regionkey"
      val first = qc.sql(q).collect().toSeq
      val second = qc.sql("  SELECT n_regionkey,\n count(*) AS n FROM qc_nation GROUP BY n_regionkey ").collect().toSeq
      assert(first.toSet === second.toSet)
      assert(qc.misses === 1 && qc.hits === 1)
    } finally qc.clear()
  }

  test("query cache: whitespace inside literals and the line break ending a comment survive") {
    val qc = new QueryCache(spark)
    try {
      assert(qc.sql("SELECT 'a  b' AS s").head.getString(0) === "a  b")
      val q = "SELECT 1 AS x -- note\nUNION ALL SELECT 2"
      assert(qc.sql(q).count() === spark.sql(q).count())
      assert(qc.sql(q).count() === 2L)
    } finally qc.clear()
  }

  test("identifier params bind only in code, never inside a literal or a comment") {
    Seq(1).toDF("k").createOrReplaceTempView("pid_v")
    val lit = Params.sql(spark, "SELECT '{t:Identifier}' AS lit FROM {t:Identifier}",
      Map("t" -> "pid_v"))
    assert(lit.head.getString(0) === "{t:Identifier}")
    val commented = Params.sql(spark,
      "SELECT k FROM {t:Identifier} -- {u:Identifier}\n", Map("t" -> "pid_v"))
    assert(commented.collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("identifier params take `Identifier` in any letter case, as the dialect does") {
    Seq(1).toDF("k").createOrReplaceTempView("pid_case_v")
    for (t <- Seq("Identifier", "identifier", "IDENTIFIER"))
      assert(Params.sql(spark, s"SELECT k FROM {t:$t}", Map("t" -> "pid_case_v"))
        .collect().map(_.getInt(0)).toSeq === Seq(1), t)
  }

  test("query cache: LRU eviction unpersists, capacity bounds storage") {
    Tables.t(spark, sf001, "region").createOrReplaceTempView("qc_region")
    val qc = new QueryCache(spark, capacity = 2)
    try {
      val dfs = (0 until 3).map { i =>
        qc.sql(s"SELECT r_regionkey + $i AS k FROM qc_region")
      }
      dfs.foreach(_.count())
      assert(qc.size === 2, s"size=${qc.size}")
      // the first (eldest) entry was evicted and unpersisted
      assert(dfs(0).storageLevel === org.apache.spark.storage.StorageLevel.NONE)
      assert(dfs(2).storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    } finally qc.clear()
  }
}
