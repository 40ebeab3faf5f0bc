package graft.sources

import graft.{QueryDef, QueryRegistry, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interchange-format sources/sinks. The reference speaks ClickHouse
  * FORMATs on the HTTP channel (ArrowStream for data, but the server
  * accepts CSV/JSONEachRow/etc on the same endpoint —
  * `clickhouse-arrow/src/http/client.rs:22-219`); the Spark-native
  * counterparts are the built-in csv/json file sources, declared here as
  * write→read round trips so the oracle pins both directions.
  *
  * Scale notes: both reads carry an EXPLICIT schema — schema inference
  * is a full extra pass over the data at 100 TB. CSV/JSON are row
  * formats with no pushdown or pruning; the scaladoc'd guidance is that
  * they are interchange formats, with parquet/Arrow as the query path.
  */
object FormatsQueries extends QueryRegistry {
  import Formats._

  private def roundTrip(
      s: SparkSession, d: String, fmt: String)(opts: Map[String, String]): DataFrame = {
    val src = Tables.t(s, d, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    val dir = Scratch.fresh(s"$fmt-rt")
    src.write.mode("overwrite").options(opts).format(fmt).save(dir)
    s.read.schema(src.schema).options(opts).format(fmt).load(dir)
  }

  private val oracle =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "b_src7_csv_roundtrip",
      (s, d) => roundTrip(s, d, "csv")(Map("header" -> "true")),
      Some(oracle)),
    QueryDef(
      "b_src8_jsonl_roundtrip",
      (s, d) => roundTrip(s, d, "json")(Map.empty),
      Some(oracle)),
    // columnar like parquet: pruning/pushdown-capable, a real query-path
    // format (unlike the row interchange formats above)
    QueryDef(
      "b_src9_orc_roundtrip",
      (s, d) => roundTrip(s, d, "orc")(Map.empty),
      Some(oracle)),
    // schema evolution (CH `ALTER TABLE ADD COLUMN` analog): an old
    // batch written without the new column reads back with nulls when
    // merged with a new-schema batch — no rewrite of historical files.
    QueryDef(
      "b_src10_schema_evolution",
      (s, d) => {
        val src = Tables.t(s, d, "supplier")
        val dir = Scratch.fresh("evo")
        src.select(col("s_suppkey"), col("s_name"))
          .where(col("s_suppkey") % 2 === 0)
          .write.mode("overwrite").parquet(s"$dir/v=1")
        src.select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
          .where(col("s_suppkey") % 2 === 1)
          .write.mode("overwrite").parquet(s"$dir/v=2")
        s.read.option("mergeSchema", "true").parquet(dir)
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      },
      Some("""SELECT s_suppkey, s_name, NULL AS s_acctbal FROM supplier WHERE s_suppkey % 2 = 0
             |UNION ALL
             |SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_suppkey % 2 = 1""".stripMargin)),
    // the reference's own wire format as a file interchange: Arrow IPC
    // stream files, encoded/decoded by the connector codec
    QueryDef(
      "b_src11_arrow_ipc",
      (s, d) => {
        val src = Tables.t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
        val dir = Scratch.fresh("arrows")
        ArrowIpc.write(src, dir)
        ArrowIpc.read(s, dir)
      },
      Some(oracle)),

    // ---- partitioned layout + partition pruning (CH `PARTITION BY` on
    // MergeTree: queries touching one partition never read the others).
    // The write lays orders out as o_year=YYYY/ directories; the filtered
    // read resolves the predicate AT PLANNING TIME against directory
    // names — the 1995 scan lists only that directory, the other years'
    // files are never opened (FormatsSpec asserts the PartitionFilters
    // plan entry). THE mechanism that bounds a 100-TB time-series scan
    // to the queried window. ----
    QueryDef(
      "b_src12_partitioned_scan",
      (s, d) => {
        val dir = Scratch.fresh("partby")
        Tables.t(s, d, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(dir)
        s.read.parquet(dir)
          .where(col("o_year") === 1995)
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("revenue"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS revenue
             |FROM orders WHERE year(o_orderdate) = 1995
             |GROUP BY o_orderstatus""".stripMargin)),

    // ---- CollapsingMergeTree semantics (CH sign-column collapse): +1
    // rows assert a version, -1 rows cancel it; the canonical collapse
    // query is sum(value*sign) grouped by key HAVING sum(sign) > 0. Here
    // a third of the orders get an in-place revision (cancel + re-state
    // at 1.1×); collapsed totals keep exactly the surviving versions.
    // One shuffle on the (high-cardinality) key — the same partial+final
    // hash agg as any sum, which is the point: collapse IS aggregation. -
    QueryDef(
      "b_src13_collapsing",
      (s, d) => {
        // prices ride as integer cents so the ±cancellation sums exactly
        // (float sum order would otherwise wobble at the cent boundary)
        val o = Tables.t(s, d, "orders")
        val cents = round(col("o_totalprice") * 100).cast("long")
        val v1 = o.select(col("o_orderkey"), cents.as("p"), lit(1L).as("sign"))
        val cancel = o.where(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), cents.as("p"), lit(-1L).as("sign"))
        val v2 = o.where(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), round(cents * 1.1).cast("long").as("p"), lit(1L).as("sign"))
        v1.unionByName(cancel).unionByName(v2)
          .groupBy(col("o_orderkey"))
          .agg(
            (sum(col("p") * col("sign")) / 100.0).as("price"),
            sum(col("sign")).cast("long").as("live_rows"))
          .where(col("live_rows") > 0)
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS p, 1 AS sign
             |  FROM orders
             |  UNION ALL
             |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT), -1
             |  FROM orders WHERE o_orderkey % 3 = 0
             |  UNION ALL
             |  SELECT o_orderkey,
             |    CAST(round(CAST(round(o_totalprice * 100) AS BIGINT) * 1.1) AS BIGINT), 1
             |  FROM orders WHERE o_orderkey % 3 = 0)
             |SELECT o_orderkey, CAST(sum(p * sign) AS DOUBLE) / 100.0 AS price,
             |  CAST(sum(sign) AS BIGINT) AS live_rows
             |FROM t GROUP BY o_orderkey HAVING sum(sign) > 0""".stripMargin)),

    // ---- small-file compaction (CH `OPTIMIZE TABLE` / merge): many tiny
    // parts are re-written into size-targeted files. The fragmented
    // table here is 64 shards of lineitem; compaction computes the
    // output file count from the ACTUAL on-disk bytes (ceil(bytes /
    // target)) rather than a magic constant, then rewrites with
    // coalesce — no shuffle, each output task concatenates inputs.
    // Integrity is oracle-checked (counts/sums survive); the file-count
    // drop is asserted in FormatsSpec. ----
    QueryDef(
      "b_src14_compaction",
      (s, d) => {
        val base = new java.io.File(Scratch.fresh("compact"))
        val small = new java.io.File(base, "small").toString
        val compacted = new java.io.File(base, "compacted").toString
        Tables.t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
          .repartition(64)
          .write.mode("overwrite").parquet(small)
        compact(s, small, compacted, targetBytes = 32L * 1024 * 1024)
        s.read.parquet(compacted)
          .agg(
            count(lit(1)).as("rows"),
            sum(col("l_quantity").cast("double")).cast("long").as("qty"),
            round(sum(col("l_extendedprice")), 2).as("total"))
      },
      Some("""SELECT count(*) AS rows,
             |  CAST(sum(CAST(l_quantity AS DOUBLE)) AS BIGINT) AS qty,
             |  round(sum(l_extendedprice), 2) AS total
             |FROM lineitem""".stripMargin)),

    // ---- virtual provenance columns (CH `_part` / `_file`): every scan
    // can name the physical file each row came from via Spark's
    // `_metadata` struct — free at read time (no data columns touched
    // for the metadata side). The oracle sees the same basename because
    // the fixture is one file per table; with many parts the GROUP BY
    // would enumerate them, which is exactly the CH `_part` usage. ----
    QueryDef(
      "b_src15_virtual_cols",
      (s, d) =>
        s.read.parquet(s"$d/orders.parquet")
          .select(
            regexp_extract(col("_metadata.file_name"), "[^/]+$", 0).as("part_file"),
            col("o_orderkey"))
          .groupBy(col("part_file"))
          .agg(count(lit(1)).as("rows_in_part"), max(col("o_orderkey")).as("max_key")),
      Some("""SELECT 'orders.parquet' AS part_file,
             |  count(*) AS rows_in_part, max(o_orderkey) AS max_key
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---- dynamic partition overwrite (CH `ALTER TABLE … DROP/ATTACH
    // PARTITION` rollover): rewriting ONE partition replaces only that
    // directory — the other years' files are physically untouched. The
    // 1995 partition is re-stated with doubled prices; the read-back
    // proves 1995 changed and everything else didn't. This is the
    // idempotent-backfill primitive for a 100-TB time-partitioned table.
    QueryDef(
      "b_src18_partition_overwrite",
      (s, d) => {
        val dir = Scratch.fresh("dynpart")
        val orders = Tables.t(s, d, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
        orders.write.mode("overwrite").partitionBy("o_year").parquet(dir)
        val patched = orders.where(col("o_year") === 1995)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
        try patched.write.mode("overwrite").partitionBy("o_year").parquet(dir)
        finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        s.read.parquet(dir)
          .groupBy(col("o_year").cast("long").as("o_year"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n,
             |  round(sum(CASE WHEN year(o_orderdate) = 1995
             |                 THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS total
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---- compression codecs (CH `CODEC(ZSTD)` / `CODEC(LZ4)` → the
    // Spark-level equivalent is the columnar file codec, §2.1 A7). The
    // query round-trips through zstd parquet; FormatsSpec asserts the
    // zstd files are actually smaller than uncompressed ones (i.e. the
    // codec option really took effect, not just a rename). ----
    QueryDef(
      "b_src17_compression",
      (s, d) => {
        val dir = Scratch.fresh("zstd")
        Tables.t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
          .write.mode("overwrite").option("compression", "zstd").parquet(dir)
        s.read.parquet(dir)
      },
      Some(oracle))
  )
}
