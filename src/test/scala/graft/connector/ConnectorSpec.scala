package graft.connector

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DSv2 connector end-to-end against the in-process stub endpoint
  * (mirrors the reference e2e create→insert→select→compare,
  * `tests/tests/arrow.rs:21-79`, offline per SURVEY §7.1 step 4).
  */
class ConnectorSpec extends SparkSpec {
  import spark.implicits._

  private def freshServer(): StubCHServer = new StubCHServer

  test("scan round-trip: all transported types survive write → read") {
    val srv = freshServer()
    try {
      val df = Seq(
        (1L, 1.toByte, 2.toShort, 3, 4.5f, 6.7, "hello", true,
          java.sql.Date.valueOf("2024-05-17"), java.sql.Timestamp.valueOf("2024-05-17 10:30:00.123456"),
          Array[Byte](1, 2, 3), BigDecimal("12345.67"),
          java.time.LocalDateTime.parse("2024-05-17T10:30:00.123456")),
        (2L, -1.toByte, -2.toShort, -3, -4.5f, -6.7, "wörld ‰", false,
          java.sql.Date.valueOf("1969-12-31"), java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"),
          Array[Byte](), BigDecimal("-0.01"),
          java.time.LocalDateTime.parse("1969-12-31T23:59:59.999999")))
        .toDF("l", "b", "s", "i", "f", "d", "str", "bool", "date", "ts", "bin", "dec", "ntz")

      df.write.format("graft-ch").option("url", srv.url).option("table", "t1")
        .mode("append").save()
      val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "t1").load()

      assert(back.schema.map(f => (f.name, f.dataType)) ===
        df.schema.map(f => (f.name, f.dataType)))
      val a = df.orderBy("l").collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      })
      val b = back.orderBy("l").collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      })
      assert(a === b)
    } finally srv.stop()
  }

  test("read-path schema conversions: Enum8 override validates and annotates") {
    val srv = freshServer()
    try {
      Seq((1L, "red"), (2L, "green"), (3L, "red"), (4L, null))
        .toDF("id", "c")
        .write.format("graft-ch").option("url", srv.url).option("table", "tc")
        .mode("append").save()
      // happy path: values ⊆ declared names; schema carries type + codes
      val ok = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "tc")
        .option("schema.C", "Enum8('red'=1,'green'=2,'blue'=5)") // case-insensitive col match
        .load()
      assert(ok.schema("c").dataType === StringType)
      assert(ok.schema("c").metadata.getString(ArrowCodec.CHTypeKey) === "Enum8")
      assert(ok.schema("c").metadata.getString(ArrowCodec.EnumValuesKey)
        === "red=1,green=2,blue=5")
      assert(ok.orderBy("id").collect().map(r =>
        if (r.isNullAt(1)) null else r.getString(1)).toSeq
        === Seq("red", "green", "red", null))
      // unknown element → the scan fails loudly (CH enum semantics)
      val badScan = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "tc")
        .option("schema.c", "Enum8('red'=1)")
        .load()
      val ex = intercept[Exception] { badScan.collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("unknown element 'green'")))
      // unsupported conversion target → schema-time error, CH-style
      val unsupported = intercept[Exception] {
        spark.read.format("graft-ch")
          .option("url", srv.url).option("table", "tc")
          .option("schema.c", "UInt64")
          .load()
      }
      assert(msgs(unsupported).exists(_.contains("unsupported read conversion target")))
      // Date target over a non-date column → schema-time mismatch error
      val mismatch = intercept[Exception] {
        spark.read.format("graft-ch")
          .option("url", srv.url).option("table", "tc")
          .option("schema.c", "Date")
          .load()
      }
      assert(msgs(mismatch).exists(_.contains("expected Date or Date32")))
    } finally srv.stop()
  }

  test("stringsAsStrings=false surfaces CH String as binary, bytes intact") {
    val srv = freshServer()
    try {
      Seq((1L, "plain", "2024-05-17"), (2L, "wörld ‰", "2023-01-01"))
        .toDF("id", "s", "ds")
        .select(col("id"), col("s"), col("ds").cast(DateType).as("dt"))
        .write.format("graft-ch").option("url", srv.url).option("table", "tb")
        .mode("append").save()
      val back = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "tb")
        .option("stringsAsStrings", "false")
        .load()
      // only the String column flips; other types are untouched
      assert(back.schema("s").dataType === BinaryType)
      assert(back.schema("id").dataType === LongType)
      assert(back.schema("dt").dataType === DateType)
      val bytes = back.orderBy("id").collect()
        .map(r => new String(r.getAs[Array[Byte]]("s"), java.nio.charset.StandardCharsets.UTF_8))
      assert(bytes.toSeq === Seq("plain", "wörld ‰"))
      // a Date override composes with binary mode on the same scan
      val both = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "tb")
        .option("stringsAsStrings", "false")
        .option("schema.dt", "Date32")
        .load()
      assert(both.schema("dt").metadata.getString(ArrowCodec.CHTypeKey) === "Date32")
      assert(both.schema("s").dataType === BinaryType)
      assert(both.select(count(lit(1))).head.getLong(0) === 2L)
    } finally srv.stop()
  }

  test("nulls survive the round trip") {
    val srv = freshServer()
    try {
      val df = Seq[(java.lang.Long, String)]((1L, null), (2L, "x"), (3L, null))
        .toDF("id", "v")
      df.write.format("graft-ch").option("url", srv.url).option("table", "tn")
        .mode("append").save()
      val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "tn")
        .load().orderBy("id").collect()
      assert(back.map(r => if (r.isNullAt(1)) null else r.getString(1)).toSeq === Seq(null, "x", null))
    } finally srv.stop()
  }

  test("UPDATE mutation rewrites matching rows server-side") {
    import org.apache.spark.sql.sources.{GreaterThan, StringStartsWith}
    val srv = freshServer()
    try {
      Seq((1L, "alpha", 1.0), (2L, "beta", 2.0), (3L, "alphabet", 3.0))
        .toDF("id", "name", "score")
        .write.format("graft-ch").option("url", srv.url).option("table", "tu")
        .mode("append").save()
      Mutations.updateWhere(srv.url, "tu", None,
        Map("score" -> 9.5, "name" -> "patched"),
        Seq(StringStartsWith("name", "alpha"), GreaterThan("id", 1L)))
      val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "tu")
        .load().orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(back === Seq((1L, "alpha", 1.0), (2L, "beta", 2.0), (3L, "patched", 9.5)))

      // unconditional update hits every row
      Mutations.updateWhere(srv.url, "tu", None, Map("score" -> 0.0), Nil)
      val scores = spark.read.format("graft-ch").option("url", srv.url).option("table", "tu")
        .load().collect().map(_.getDouble(2)).toSet
      assert(scores === Set(0.0))

      // a non-compilable value must reject the mutation, not mangle it
      intercept[IllegalArgumentException] {
        Mutations.updateWhere(srv.url, "tu", None, Map("score" -> new Object), Nil)
      }
    } finally srv.stop()
  }

  test("EXCHANGE TABLES swaps two tables' contents") {
    val srv = freshServer()
    try {
      import spark.implicits._
      Seq((1L, "live")).toDF("id", "tag").write.format("graft-ch")
        .option("url", srv.url).option("table", "blue").mode("append").save()
      Seq((2L, "staged")).toDF("id", "tag").write.format("graft-ch")
        .option("url", srv.url).option("table", "green").mode("append").save()
      Mutations.exchangeTables(srv.url, "blue", "green")
      def tagOf(t: String): String =
        spark.read.format("graft-ch").option("url", srv.url).option("table", t)
          .load().select("tag").head.getString(0)
      assert(tagOf("blue") === "staged")
      assert(tagOf("green") === "live")
    } finally srv.stop()
  }

  test("catalog RENAME TABLE moves data to the new name") {
    val srv = freshServer()
    try {
      Seq((1L, "x")).toDF("id", "v")
        .write.format("graft-ch").option("url", srv.url).option("table", "old_name")
        .mode("append").save()
      spark.conf.set("spark.sql.catalog.chx", classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.chx.url", srv.url)
      spark.sql("ALTER TABLE chx.old_name RENAME TO new_name")
      assert(srv.tableNames.contains("new_name") && !srv.tableNames.contains("old_name"))
      assert(spark.read.format("graft-ch").option("url", srv.url)
        .option("table", "new_name").load().count() === 1)
    } finally srv.stop()
  }

  test("nested types round-trip: Array(T), Map(K,V), Tuple/Struct, with nulls at every level") {
    val srv = freshServer()
    try {
      val df = Seq(
        (1L, Seq(1.5f, 2.5f, 3.5f), Map("a" -> 1L, "b" -> 2L), ("x", 10)),
        (2L, Seq.empty[Float], Map.empty[String, Long], ("y", 20)),
        (3L, Seq(-0.25f), Map("c" -> 3L), ("z", 30)))
        .toDF("id", "arr", "m", "tup")
        // null list / null map / null struct / null array element
        .unionByName(
          Seq(4L).toDF("id")
            .withColumn("arr", lit(null).cast("array<float>"))
            .withColumn("m", lit(null).cast("map<string,bigint>"))
            .withColumn("tup", lit(null).cast("struct<_1:string,_2:int>")))
        .unionByName(
          Seq(5L).toDF("id")
            .withColumn("arr", array(lit(9.5f), lit(null).cast("float")))
            .withColumn("m", map(lit("k"), lit(null).cast("bigint")))
            .withColumn("tup", struct(lit(null).cast("string").as("_1"), lit(7).as("_2"))))

      df.write.format("graft-ch").option("url", srv.url).option("table", "tnest")
        .mode("append").save()
      val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "tnest").load()

      assert(back.schema.map(f => (f.name, f.dataType)) ===
        df.schema.map(f => (f.name, f.dataType)))
      val norm = (rows: Array[org.apache.spark.sql.Row]) => rows.map(_.toSeq.map {
        case s: Seq[_] => s.toList
        case m: Map[_, _] => m.toList.sortBy(_._1.toString)
        case x => x
      })
      assert(norm(back.orderBy("id").collect()) === norm(df.orderBy("id").collect()))
    } finally srv.stop()
  }

  test("TimestampNTZ filter pushes as a toDateTime64 literal and filters server-side") {
    val srv = freshServer()
    try {
      val df = Seq(
        (1L, java.time.LocalDateTime.parse("2024-05-17T10:30:00.123456")),
        (2L, java.time.LocalDateTime.parse("2024-05-17T11:00:00")),
        (3L, java.time.LocalDateTime.parse("2024-05-18T00:00:00")))
        .toDF("id", "ntz")
      df.write.format("graft-ch").option("url", srv.url).option("table", "tntz")
        .mode("append").save()
      val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "tntz")
        .load()
        .filter(col("ntz") > lit(java.time.LocalDateTime.parse("2024-05-17T10:45:00")))
      assert(back.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
      // the filter really reached the server as SQL (not a Spark residual)
      assert(srv.queries.exists(q => q.contains("`ntz` > toDateTime64(")))
    } finally srv.stop()
  }

  test("filter, projection and limit are pushed into the generated SQL") {
    val srv = freshServer()
    try {
      srv.load("nation", Tables.t(spark, sf001, "nation"))
      val df = spark.read.format("graft-ch").option("url", srv.url).option("table", "nation")
        .load()
        .filter(col("n_regionkey") < 3 && col("n_name").startsWith("A"))
        .select("n_nationkey", "n_name")
        .limit(7)
      val rows = df.collect()
      assert(rows.length === math.min(7,
        Tables.t(spark, sf001, "nation")
          .filter(col("n_regionkey") < 3 && col("n_name").startsWith("A")).count()).toInt)

      val sql = srv.queries.filter(_.startsWith("SELECT `"))
      assert(sql.nonEmpty, s"no scan SQL seen; got ${srv.queries}")
      val q = sql.last
      assert(q.contains("`n_regionkey` < 3"), q)
      assert(q.contains("`n_name` LIKE 'A%'"), q)
      assert(q.contains("LIMIT 7"), q)
      // projection pruned to the required columns (+ filter refs)
      assert(!q.contains("n_comment"), q)
    } finally srv.stop()
  }

  test("TopN (ORDER BY + LIMIT) pushes to the server and returns the true top rows") {
    val srv = freshServer()
    try {
      srv.load("nation", Tables.t(spark, sf001, "nation"))
      val df = spark.read.format("graft-ch").option("url", srv.url).option("table", "nation")
        .load()
        .select("n_nationkey", "n_name")
        .orderBy(col("n_nationkey").desc)
        .limit(3)
      val keys = df.collect().map(_.get(0).toString.toLong).toSeq
      val expected = Tables.t(spark, sf001, "nation")
        .orderBy(col("n_nationkey").desc).limit(3)
        .collect().map(_.get(0).toString.toLong).toSeq
      assert(keys === expected)

      val q = srv.queries.filter(_.startsWith("SELECT `")).last
      assert(q.matches("(?is).*ORDER BY `n_nationkey` DESC NULLS LAST.*"), q)
      assert(q.contains("LIMIT 3"), q)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("pushedTopN=["), plan)
    } finally srv.stop()
  }

  test("pushed filters appear in the physical plan (plan inspection)") {
    val srv = freshServer()
    try {
      srv.load("nation", Tables.t(spark, sf001, "nation"))
      val df = spark.read.format("graft-ch").option("url", srv.url).option("table", "nation")
        .load().filter(col("n_regionkey") < 3).select("n_nationkey")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("pushedWhere=[") && plan.contains("`n_regionkey` < 3"), plan)
    } finally srv.stop()
  }

  test("range partitioning fans the scan out into N HTTP reads") {
    val srv = freshServer()
    try {
      srv.load("nation", Tables.t(spark, sf001, "nation"))
      val df = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "nation")
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0").option("upperBound", "25")
        .option("numPartitions", "4")
        .load()
      assert(df.rdd.getNumPartitions === 4)
      // the stub evaluates the per-partition range predicates, so the
      // union of the 4 disjoint range reads must equal the full table
      assert(df.count() === 25)
      assert(df.select("n_nationkey").distinct().count() === 25)
      val scans = srv.queries.filter(_.startsWith("SELECT `"))
      assert(scans.size >= 4, scans.mkString("\n"))
      assert(scans.exists(_.contains("`n_nationkey` < ")), scans.mkString("\n"))
      assert(scans.exists(_.contains("`n_nationkey` >= ")), scans.mkString("\n"))
    } finally srv.stop()
  }

  test("range partitioning without explicit bounds probes MIN/MAX from the server") {
    val srv = freshServer()
    try {
      srv.load("orders", Tables.t(spark, sf001, "orders"))
      val df = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "orders")
        .option("partitionColumn", "o_orderkey")
        .option("numPartitions", "4")
        .option("statistics", "false")
        .load()
      assert(df.rdd.getNumPartitions === 4)
      assert(df.count() === Tables.t(spark, sf001, "orders").count())
      // the probe really hit the server, and every key landed in a range
      assert(srv.queries.exists(q => q.contains("MIN(`o_orderkey`)") && q.contains("MAX(")),
        srv.queries.mkString("\n"))
      assert(df.select("o_orderkey").distinct().count() ===
        Tables.t(spark, sf001, "orders").select("o_orderkey").distinct().count())
    } finally srv.stop()
  }

  test("catalog: SHOW TABLES / CREATE / load / DROP through GraftCatalog") {
    val srv = freshServer()
    try {
      srv.load("nation", Tables.t(spark, sf001, "nation"))
      spark.conf.set("spark.sql.catalog.chtest", classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.chtest.url", srv.url)

      val listed = spark.sql("SHOW TABLES IN chtest").select("tableName")
        .collect().map(_.getString(0)).toSet
      assert(listed.contains("nation"))

      spark.sql("CREATE TABLE chtest.newt (id BIGINT, name STRING) TBLPROPERTIES('order_by'='id')")
      assert(srv.queries.exists(q => q.startsWith("CREATE TABLE") && q.contains("`newt`")))
      val loaded = spark.table("chtest.newt")
      assert(loaded.schema.fieldNames.toSeq === Seq("id", "name"))

      // insert through SQL into the catalog table, read back
      spark.sql("INSERT INTO chtest.newt VALUES (1, 'a'), (2, 'b')")
      assert(spark.table("chtest.newt").orderBy("id").collect().map(_.getString(1)).toSeq
        === Seq("a", "b"))

      spark.sql("DROP TABLE chtest.newt")
      assert(!srv.tableNames.contains("newt"))

      // column DDL: ADD pads with NULL, RENAME is schema-only, MODIFY
      // widens, DROP removes — each lands as CH ALTER ... COLUMN SQL
      spark.sql("CREATE TABLE chtest.altt (id INT, name STRING)")
      spark.sql("INSERT INTO chtest.altt VALUES (1, 'a'), (2, 'b')")
      spark.sql("ALTER TABLE chtest.altt ADD COLUMNS (score DOUBLE)")
      assert(srv.queries.exists(q => q.contains("ADD COLUMN") && q.contains("`score`")))
      val withScore = spark.table("chtest.altt")
      assert(withScore.schema.fieldNames.toSeq === Seq("id", "name", "score"))
      assert(withScore.collect().forall(_.isNullAt(2)))
      spark.sql("ALTER TABLE chtest.altt RENAME COLUMN name TO label")
      assert(spark.table("chtest.altt").schema.fieldNames.toSeq
        === Seq("id", "label", "score"))
      spark.sql("ALTER TABLE chtest.altt ALTER COLUMN id TYPE BIGINT")
      assert(spark.table("chtest.altt").schema("id").dataType
        === org.apache.spark.sql.types.LongType)
      assert(spark.table("chtest.altt").orderBy("id").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L))
      spark.sql("ALTER TABLE chtest.altt DROP COLUMN score")
      assert(spark.table("chtest.altt").schema.fieldNames.toSeq === Seq("id", "label"))

      // CTAS: CREATE TABLE ... AS SELECT lands as CH CREATE + an Arrow
      // insert of the query result (Spark's non-atomic DSv2 CTAS path —
      // the reference flow `create_table` + `insert_many` as one text
      // statement)
      spark.sql(
        "CREATE TABLE chtest.ctas AS SELECT id, label FROM chtest.altt WHERE id = 1")
      assert(srv.queries.exists(q => q.startsWith("CREATE TABLE") && q.contains("`ctas`")))
      assert(spark.table("chtest.ctas").collect().map(_.getString(1)).toSeq === Seq("a"))
      spark.sql("DROP TABLE chtest.ctas")

      // OPTIMIZE TABLE passthrough; DEDUPLICATE collapses full-row dups
      spark.sql("INSERT INTO chtest.altt VALUES (1, 'a'), (1, 'a'), (3, 'c')")
      val before = srv.rowCount("altt")
      Mutations.optimizeTable(srv.url, "altt", finalMerge = true, deduplicate = true)
      assert(srv.queries.exists(_.startsWith("OPTIMIZE TABLE")))
      assert(srv.rowCount("altt") < before)
      spark.sql("DROP TABLE chtest.altt")
    } finally srv.stop()
  }

  test("aggregate pushdown: GROUP BY + min/max/sum/count run server-side") {
    val srv = freshServer()
    try {
      srv.load("orders", Tables.t(spark, sf001, "orders"))
      val df = spark.read.format("graft-ch").option("url", srv.url).option("table", "orders")
        .load()
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"),
          sum(col("o_custkey")).as("sk"))
      val expected = Tables.t(spark, sf001, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"),
          sum(col("o_custkey")).as("sk"))
        .orderBy("o_orderpriority").collect().map(_.toSeq)
      val got = df.orderBy("o_orderpriority").collect().map(_.toSeq)
      assert(got === expected)
      // the server executed the aggregation (SQL-level proof)...
      val aggSql = srv.queries.filter(q => q.contains("GROUP BY") && q.contains("SUM("))
      assert(aggSql.nonEmpty, srv.queries.mkString("\n"))
      // ...and the plan records it
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("pushedAggregates=["), plan)
    } finally srv.stop()
  }

  test("aggregate pushdown composes with filter pushdown and range partitioning") {
    val srv = freshServer()
    try {
      srv.load("orders", Tables.t(spark, sf001, "orders"))
      val df = spark.read.format("graft-ch").option("url", srv.url).option("table", "orders")
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", "0").option("upperBound", "60000")
        .option("numPartitions", "4")
        .load()
        .filter(col("o_totalprice") > 100000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("rev"))
      val expected = Tables.t(spark, sf001, "orders")
        .filter(col("o_totalprice") > 100000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("rev"))
        .orderBy("o_orderpriority").collect().map(_.toSeq)
      val got = df.orderBy("o_orderpriority").collect().map(_.toSeq)
      assert(got === expected)
      // partial aggregates per range partition, merged by Spark
      val aggSql = srv.queries.filter(q => q.contains("GROUP BY") && q.contains("o_orderkey"))
      assert(aggSql.size === 4, srv.queries.mkString("\n"))
    } finally srv.stop()
  }

  test("DELETE WHERE mutations and overwrite mode work through the catalog") {
    val srv = freshServer()
    try {
      spark.conf.set("spark.sql.catalog.chmut", classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.chmut.url", srv.url)
      spark.sql("CREATE TABLE chmut.m (id BIGINT, v STRING)")
      spark.sql("INSERT INTO chmut.m VALUES (1, 'a'), (2, 'b'), (3, 'c')")

      // ALTER TABLE ... DELETE WHERE via SupportsDelete
      spark.sql("DELETE FROM chmut.m WHERE id < 3")
      assert(spark.table("chmut.m").collect().map(_.getLong(0)).toSeq === Seq(3L))
      assert(srv.queries.exists(q => q.startsWith("ALTER TABLE") && q.contains("DELETE WHERE")),
        srv.queries.mkString("\n"))

      // unconditional DELETE → TRUNCATE
      spark.sql("DELETE FROM chmut.m")
      assert(spark.table("chmut.m").count() === 0)

      // mode("overwrite") → TRUNCATE + append
      import spark.implicits._
      Seq((10L, "x")).toDF("id", "v").write.format("graft-ch")
        .option("url", srv.url).option("table", "m").mode("append").save()
      Seq((20L, "y")).toDF("id", "v").write.format("graft-ch")
        .option("url", srv.url).option("table", "m").mode("overwrite").save()
      assert(spark.table("chmut.m").collect().map(_.getLong(0)).toSeq === Seq(20L))
    } finally srv.stop()
  }

  test("empty table: scan returns zero rows with the right schema") {
    val srv = freshServer()
    try {
      val df = Seq((1L, "x")).toDF("id", "v").limit(0)
      df.write.format("graft-ch").option("url", srv.url).option("table", "te")
        .mode("append").save()
      val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "te").load()
      assert(back.count() === 0)
      assert(back.schema.fieldNames.toSeq === Seq("id", "v"))
    } finally srv.stop()
  }

  test("FixedSizeBinary round-trip: UUID-16 and FixedString-width values keep bytes and wire form") {
    val srv = freshServer()
    try {
      // 16-byte UUID-shaped values + a FixedString(8) column whose second
      // value is SHORT (5 bytes) — must zero-pad to 8 on the wire, CH
      // FixedString semantics (reference arrow/types.rs:381-398,414)
      val u1 = Array.tabulate[Byte](16)(i => (i + 1).toByte)
      val u2 = Array.tabulate[Byte](16)(i => (0xf0 - i).toByte)
      val base = Seq((1L, u1, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)),
        (2L, u2, Array[Byte](9, 8, 7, 6, 5)))
        .toDF("id", "u", "fs")
      val df = base.select(col("id"),
        col("u").as("u", ArrowCodec.fixedWidthMetadata(16)),
        col("fs").as("fs", ArrowCodec.fixedWidthMetadata(8)))
      df.write.format("graft-ch").option("url", srv.url).option("table", "tfsb")
        .mode("append").save()

      val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "tfsb").load()
      // the scan-side schema proves the wire used FSB: the width metadata
      // only appears when fromArrowField saw a FixedSizeBinary field
      assert(back.schema("u").metadata.getLong(ArrowCodec.FixedWidthKey) === 16L)
      assert(back.schema("fs").metadata.getLong(ArrowCodec.FixedWidthKey) === 8L)
      val rows = back.orderBy("id").collect()
      assert(rows.map(_.getAs[Array[Byte]]("u").toSeq) === Seq(u1.toSeq, u2.toSeq))
      assert(rows.map(_.getAs[Array[Byte]]("fs").toSeq) ===
        Seq(Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8), Seq[Byte](9, 8, 7, 6, 5, 0, 0, 0)))

      // null FSB cells survive too
      val withNull = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(3L, null)),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("u", BinaryType, nullable = true, ArrowCodec.fixedWidthMetadata(16)))))
      withNull.write.format("graft-ch").option("url", srv.url).option("table", "tfsbn")
        .mode("append").save()
      val backN = spark.read.format("graft-ch").option("url", srv.url).option("table", "tfsbn")
        .load().collect()
      assert(backN.length === 1 && backN(0).isNullAt(1))
    } finally srv.stop()
  }

  test("runtime join filtering: the build side's keys land in the pushed WHERE") {
    val srv = freshServer()
    try {
      srv.load("supplier", Tables.t(spark, sf001, "supplier"))
      srv.load("nation", Tables.t(spark, sf001, "nation"))

      // unit contract first: Spark hands runtime filters to the Scan via
      // SupportsRuntimeFiltering.filter(); the next planInputPartitions
      // must compile them into the pushed SQL
      val schema = CHHttp.fetchSchema(srv.url, "supplier", None)
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("url", srv.url, "table", "supplier"))
      val scan = new CHScanBuilder(schema, srv.url, "supplier", None, opts)
        .build().asInstanceOf[CHScan]
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("s_nationkey", Array(1L, 2L, 3L))))
      val part = scan.planInputPartitions()(0).asInstanceOf[CHInputPartition]
      assert(part.sql.contains("`s_nationkey` IN (1, 2, 3)"), part.sql)

      // e2e: broadcast dim join → DPP hands the dim keys to the fact scan
      val fact = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "supplier").load()
      val dim = Tables.t(spark, sf001, "nation").filter(col("n_regionkey") === 0)
      val joined = fact.join(broadcast(dim), fact("s_nationkey") === dim("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val expected = Tables.t(spark, sf001, "supplier").as("s")
        .join(dim, col("s.s_nationkey") === dim("n_nationkey")).count()
      assert(joined.count() === expected)
      val runtimeScans = srv.queries.filter(q =>
        q.startsWith("SELECT `") && q.contains("`s_nationkey` IN ("))
      assert(runtimeScans.nonEmpty,
        s"no runtime-filtered scan SQL seen:\n${srv.queries.mkString("\n")}")
    } finally srv.stop()
  }

  test("OFFSET pushes with LIMIT on the single-partition scan") {
    val srv = freshServer()
    try {
      srv.load("supplier", Tables.t(spark, sf001, "supplier"))
      val df = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "supplier").load()
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
        .offset(10).limit(5)
      val expected = Tables.t(spark, sf001, "supplier")
        .select("s_suppkey", "s_name").orderBy("s_suppkey")
        .offset(10).limit(5).collect().map(_.toSeq)
      assert(df.collect().map(_.toSeq) === expected)
      val q = srv.queries.filter(_.startsWith("SELECT `")).last
      assert(q.contains("OFFSET 10"), q)
    } finally srv.stop()
  }

  test("multi-partition scans refuse OFFSET/full-LIMIT delegation (soundness)") {
    val srv = freshServer()
    try {
      srv.load("nation", Tables.t(spark, sf001, "nation"))
      val df = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "nation")
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0").option("upperBound", "25")
        .option("numPartitions", "4")
        .load()
        .select("n_nationkey").orderBy("n_nationkey")
        .offset(10).limit(5)
      // per-range OFFSET would drop 10 rows from EACH range — Spark must
      // keep the offset on its side and the result must still be exact
      assert(df.collect().map(_.get(0).toString.toLong).toSeq === Seq(10L, 11L, 12L, 13L, 14L))
      assert(!srv.queries.exists(_.contains("OFFSET")), srv.queries.mkString("\n"))
    } finally srv.stop()
  }

  test("pushed pagination declines runtime filtering (soundness)") {
    val srv = freshServer()
    try {
      srv.load("supplier", Tables.t(spark, sf001, "supplier"))
      // unit contract: once LIMIT/TopN/OFFSET are delegated, the scan must
      // not advertise runtime-filterable attributes — a DPP key set
      // injected into the same SQL would window the FILTERED rows, while
      // Spark planned the limit BELOW the join (it dropped its own Limit
      // on the full push)
      val schema = CHHttp.fetchSchema(srv.url, "supplier", None)
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("url", srv.url, "table", "supplier"))
      def builder() = new CHScanBuilder(schema, srv.url, "supplier", None, opts)
      val plain = builder()
      assert(plain.build().asInstanceOf[CHScan].filterAttributes().nonEmpty)
      val limited = builder()
      assert(limited.pushLimit(5))
      assert(limited.build().asInstanceOf[CHScan].filterAttributes().isEmpty)
      val topn = builder()
      assert(topn.pushTopN(Array(
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column("s_suppkey"),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)), 5))
      assert(topn.build().asInstanceOf[CHScan].filterAttributes().isEmpty)

      // e2e: fact.orderBy.limit(n) ⋈ broadcast dim — the n rows must be
      // the global top-n BEFORE the join filter, matching the parquet plan
      val fact = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "supplier").load()
        .orderBy("s_suppkey").limit(5)
      val dim = Tables.t(spark, sf001, "nation").filter(col("n_regionkey") === 0)
      val got = fact.join(broadcast(dim), fact("s_nationkey") === dim("n_nationkey"))
        .select("s_suppkey").collect().map(_.getLong(0)).sorted.toSeq
      val expected = Tables.t(spark, sf001, "supplier")
        .orderBy("s_suppkey").limit(5).as("s")
        .join(dim, col("s.s_nationkey") === dim("n_nationkey"))
        .select("s_suppkey").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === expected)
    } finally srv.stop()
  }

  test("rangeBounds probe degrades to an empty scan when WHERE prunes all rows") {
    val srv = freshServer()
    try {
      srv.load("supplier", Tables.t(spark, sf001, "supplier"))
      // auto-bounds probe (no lowerBound/upperBound): the MIN/MAX comes
      // back as one row of NULLs when the pushed WHERE matches nothing —
      // must plan an empty result, not NPE
      val df = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "supplier")
        .option("partitionColumn", "s_suppkey")
        .option("numPartitions", "4")
        .load()
        .filter(col("s_suppkey") < 0)
      assert(df.count() === 0L)
    } finally srv.stop()
  }

  test("namespaces: SHOW/CREATE/DROP DATABASE through the catalog") {
    val srv = freshServer()
    try {
      spark.conf.set("spark.sql.catalog.chns", classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.chns.url", srv.url)
      val shown = spark.sql("SHOW NAMESPACES IN chns").collect().map(_.getString(0)).toSet
      assert(shown.contains("default"))

      spark.sql("CREATE NAMESPACE chns.staging_db")
      assert(srv.databaseNames.contains("staging_db"))
      assert(spark.sql("SHOW NAMESPACES IN chns").collect().map(_.getString(0)).toSet
        .contains("staging_db"))

      // a table created inside the namespace carries the qualified ref
      spark.sql("CREATE TABLE chns.staging_db.t1 (id BIGINT)")
      assert(srv.queries.exists(q =>
        q.startsWith("CREATE TABLE") && q.contains("`staging_db`.`t1`")))

      spark.sql("DROP NAMESPACE chns.staging_db CASCADE")
      assert(!srv.databaseNames.contains("staging_db"))
    } finally srv.stop()
  }

  test("overwrite is stage-and-swap: a failed job leaves the original table intact") {
    val srv = freshServer()
    try {
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .write.format("graft-ch").option("url", srv.url).option("table", "ow")
        .mode("append").save()

      // a task that throws mid-stream: the overwrite job must fail
      // WITHOUT touching `ow` (the old TRUNCATE-first design left it
      // empty or partial here)
      val bad = spark.range(0, 10, 1, 2)
        .selectExpr("id", "IF(id = 7, CAST(raise_error('boom') AS STRING), 'x') AS v")
      intercept[Exception] {
        bad.write.format("graft-ch").option("url", srv.url).option("table", "ow")
          .mode("overwrite").save()
      }
      assert(srv.rowCount("ow") === 3)
      assert(!srv.tableNames.exists(_.contains("__ow_staging")), srv.tableNames.mkString(","))

      // and a successful overwrite really replaces the contents
      Seq((9L, "z")).toDF("id", "v")
        .write.format("graft-ch").option("url", srv.url).option("table", "ow")
        .mode("overwrite").save()
      val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "ow")
        .load().collect()
      assert(back.map(_.getLong(0)).toSeq === Seq(9L))
      assert(!srv.tableNames.exists(_.contains("__ow_staging")), srv.tableNames.mkString(","))
    } finally srv.stop()
  }

  test("LowCardinality wire form: dictionary-encoded responses and inserts round-trip") {
    val srv = freshServer()
    try {
      val nation = Tables.t(spark, sf001, "nation")
      srv.load("nation", nation)
      srv.markLowCardinality("nation", Set("n_name"))

      // response direction: the wire bytes REALLY carry a dictionary
      val raw = CHHttp.queryArrow(srv.url, "SELECT `n_name`, `n_regionkey` FROM `nation`")
      val bytes = try raw.readAllBytes() finally raw.close()
      val alloc = ArrowCodec.rootAllocator.newChildAllocator("lc-probe", 0, Long.MaxValue)
      val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        val f = rdr.getVectorSchemaRoot.getSchema.getFields.get(0)
        assert(f.getDictionary != null, s"n_name not dictionary-encoded: $f")
      } finally { rdr.close(); alloc.close() }

      // ...and the connector scan decodes it transparently
      val got = spark.read.format("graft-ch").option("url", srv.url).option("table", "nation")
        .load().select("n_name", "n_regionkey").orderBy("n_name").collect().map(_.toSeq)
      val expected = nation.select("n_name", "n_regionkey").orderBy("n_name")
        .collect().map(_.toSeq)
      assert(got === expected)

      // insert direction: a client-side dict-encoded body decodes into
      // plain stored values (the A5 encode path)
      val rows = nation.select("n_nationkey", "n_name").queryExecution
        .toRdd.map(_.copy()).collect().toSeq
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType)))
      val body = ArrowCodec.encodeDict(schema, rows, Set("n_name"))
      CHHttp.insertArrow(srv.url, "INSERT INTO `lc_ins` (`n_nationkey`, `n_name`)",
        o => o.write(body))
      val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "lc_ins")
        .load().orderBy("n_nationkey").collect().map(_.getString(1)).toSeq
      assert(back === nation.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq)
    } finally srv.stop()
  }

  /** Stub table `lc_mixed`: a LowCardinality String beside Date, Decimal,
    * Boolean, nullable Int32 and Array<Long> columns. */
  private def loadMixedLowCard(srv: StubCHServer): org.apache.spark.sql.DataFrame = {
    val df = Seq(
      (1L, "AIR", java.sql.Date.valueOf("2024-05-17"), BigDecimal("12.50"), true, Some(7), Seq(1L, 2L)),
      (2L, "MAIL", java.sql.Date.valueOf("1969-12-31"), BigDecimal("-0.01"), false, None, Seq.empty[Long]),
      (3L, "AIR", java.sql.Date.valueOf("2000-02-29"), BigDecimal("0.00"), true, Some(-3), Seq(5L)),
      (4L, null, java.sql.Date.valueOf("2024-01-01"), BigDecimal("99.99"), false, Some(0), Seq(3L, 4L)))
      .toDF("id", "mode", "d", "dec", "flag", "n", "arr")
      .withColumn("dec", col("dec").cast("decimal(10,2)"))
    srv.load("lc_mixed", df)
    srv.markLowCardinality("lc_mixed", Set("mode"))
    df
  }

  test("LowCardinality tables with Date, Decimal, Boolean, nullable Int32 and Array<Long> columns scan intact") {
    val srv = freshServer()
    try {
      val df = loadMixedLowCard(srv)
      val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "lc_mixed").load()
      assert(back.schema.map(f => (f.name, f.dataType)) === df.schema.map(f => (f.name, f.dataType)))
      assert(back.orderBy("id").collect().map(_.toSeq) === df.orderBy("id").collect().map(_.toSeq))
    } finally srv.stop()
  }

  test("stub SELECT of a reordered column subset with LIMIT/OFFSET keeps order, values and the dictionary") {
    val srv = freshServer()
    try {
      loadMixedLowCard(srv)
      val raw = CHHttp.queryArrow(srv.url, "SELECT `arr`, `mode`, `id` FROM `lc_mixed` LIMIT 2 OFFSET 1")
      val bytes = try raw.readAllBytes() finally raw.close()
      val (schema, rows) = ArrowCodec.decode(bytes)
      assert(schema.fieldNames.toSeq === Seq("arr", "mode", "id"))
      assert(rows.map(r => (r.getArray(0).toLongArray.toSeq, r.getUTF8String(1).toString, r.getLong(2))) ===
        Seq((Seq.empty[Long], "MAIL", 2L), (Seq(5L), "AIR", 3L)))
      val alloc = ArrowCodec.rootAllocator.newChildAllocator("lc-subset", 0, Long.MaxValue)
      val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try assert(rdr.getVectorSchemaRoot.getSchema.getFields.get(1).getDictionary != null)
      finally { rdr.close(); alloc.close() }
    } finally srv.stop()
  }

  test("server row stats make small connector dims auto-broadcast (no hint)") {
    val srv = freshServer()
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      srv.load("nation", Tables.t(spark, sf001, "nation"))
      // threshold between the tiny connector dim (~2 KB reported by the
      // server count) and the parquet fact, so ONLY stats-aware planning
      // can pick the broadcast join
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
      val fact = Tables.t(spark, sf001, "orders")

      val dim = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "nation").load()
      val j = fact.join(dim, fact("o_custkey") % 25 === dim("n_nationkey"))
      assert(j.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        j.queryExecution.sparkPlan.toString)

      // without stats the remote size is unknown (Long.MaxValue default)
      // and the static planner cannot choose broadcast
      val dimNoStats = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "nation")
        .option("statistics", "false").load()
      val j2 = fact.join(dimNoStats, fact("o_custkey") % 25 === dimNoStats("n_nationkey"))
      assert(!j2.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        j2.queryExecution.sparkPlan.toString)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      srv.stop()
    }
  }

  test("server errors surface typed: code, symbolic name, severity, retry class") {
    val srv = freshServer()
    try {
      // missing table → UNKNOWN_TABLE(60), a deterministic Query error
      val e = intercept[CHServerException] {
        CHHttp.fetchSchema(srv.url, "nope", None)
      }
      assert(e.code === 60)
      assert(e.name === "UNKNOWN_TABLE")
      assert(e.severity === CHError.Query)
      assert(!e.retryable)
      assert(e.getMessage.contains("UNKNOWN_TABLE"), e.getMessage)

      // unsupported statement → SYNTAX_ERROR(62)
      val e2 = intercept[CHServerException] { CHHttp.execute(srv.url, "KILL MUTATION WHERE 1") }
      assert(e2.code === 62 && e2.severity === CHError.Syntax && !e2.retryable)

      // classification table: transient server/protocol errors ARE retryable
      assert(CHError.severityOf(241) === CHError.Query) // MEMORY_LIMIT_EXCEEDED: deterministic
      assert(CHError.severityOf(209).retryable) // SOCKET_TIMEOUT
      assert(CHError.severityOf(243).retryable) // NOT_ENOUGH_SPACE
      assert(!CHError.severityOf(62).retryable)
      // a body with no Code prefix (proxy crash page) degrades, not throws
      val fallback = CHError.parse(502, "SELECT 1", "<html>bad gateway</html>")
      assert(fallback.code === -1 && fallback.severity === CHError.Unknown)
    } finally srv.stop()
  }

  test("settings.* options ride every request as URL params; scan/write report custom metrics") {
    val srv = freshServer()
    try {
      srv.load("nation", Tables.t(spark, sf001, "nation"))
      val df = spark.read.format("graft-ch")
        .option("url", srv.url).option("table", "nation")
        .option("settings.max_threads", "8")
        .option("settings.max_memory_usage", "1000000000")
        .option("statistics", "false")
        .load().select("n_nationkey")
      assert(df.collect().length === 25)
      val scanParams = srv.requestQueryStrings.filter(_.contains("n_nationkey"))
      assert(scanParams.nonEmpty && scanParams.forall(p =>
        p.contains("max_threads=8") && p.contains("max_memory_usage=1000000000")),
        srv.requestQueryStrings.mkString("\n"))
      val scanNodes = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scanNodes.nonEmpty)
      assert(scanNodes.head.metrics.contains("chRowsRead"), scanNodes.head.metrics.keys)
      assert(scanNodes.head.metrics.contains("chServerReadRows"), scanNodes.head.metrics.keys)

      // the X-ClickHouse-Summary header parses into server-reported rows
      val (in, summary) = CHHttp.queryArrowWithSummary(srv.url, "SELECT `n_name` FROM `nation`")
      in.close()
      assert(summary.readRows === 25L, summary)
      assert(CHHttp.parseSummary("""{"read_rows":"42","written_rows":"7"}""")
        === CHHttp.Summary(42L, 7L))

      // write side: settings reach the insert request too
      Seq((1L, "x")).toDF("id", "v").write.format("graft-ch")
        .option("url", srv.url).option("table", "tset")
        .option("settings.async_insert", "1")
        .mode("append").save()
      assert(srv.requestQueryStrings.exists(p =>
        p.contains("INSERT+INTO+%60tset%60") && p.contains("async_insert=1")),
        srv.requestQueryStrings.mkString("\n"))
    } finally srv.stop()
  }

  test("transient server failures retry; deterministic errors do not") {
    val srv = freshServer()
    try {
      srv.load("nation", Tables.t(spark, sf001, "nation"))
      // SOCKET_TIMEOUT(209) is severity Protocol → retryable: the scan
      // survives two injected failures
      srv.failNextRequests(2, 209)
      val n = spark.read.format("graft-ch").option("url", srv.url).option("table", "nation")
        .option("statistics", "false").load().count()
      assert(n === 25)

      // SYNTAX_ERROR(62) is deterministic → exactly ONE request, no retry
      srv.failNextRequests(1, 62)
      val before = srv.queries.size
      val e = intercept[CHServerException] {
        CHHttp.queryArrow(srv.url, "SELECT `n_name` FROM `nation`").close()
      }
      assert(e.code === 62 && !e.retryable)
      assert(srv.queries.size === before + 1, "deterministic error must not retry")
    } finally srv.stop()
  }

  test("wire compression: gzip/zstd/lz4 round-trip byte-identical, headers prove the codec") {
    for (codec <- Seq("gzip", "zstd", "lz4")) {
      val srv = freshServer()
      try {
        val df = Tables.t(spark, sf001, "supplier")
        df.write.format("graft-ch").option("url", srv.url).option("table", "s")
          .option("compression", codec).mode("append").save()
        // the insert body really traveled compressed
        assert(srv.wireEncodings.exists(_._1 == codec),
          s"$codec: no compressed request seen: ${srv.wireEncodings}")

        val back = spark.read.format("graft-ch").option("url", srv.url).option("table", "s")
          .option("compression", codec).load()
        val plain = spark.read.format("graft-ch").option("url", srv.url).option("table", "s")
          .load()
        assert(back.orderBy("s_suppkey").collect().map(_.toSeq).toSeq ===
          plain.orderBy("s_suppkey").collect().map(_.toSeq).toSeq)
        // the response really traveled compressed
        assert(srv.wireEncodings.exists(_._2 == codec),
          s"$codec: no compressed response seen: ${srv.wireEncodings}")
      } finally srv.stop()
    }
  }
}
