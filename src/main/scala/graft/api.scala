package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query capability (SURVEY.md §2).
  *
  * The reference (`hyperi-io/clickhouse-arrow`) ships every SQL string to
  * ClickHouse unparsed (`clickhouse-arrow/src/query.rs:168-197`,
  * `src/client.rs:643`); the server provides the relational surface. Here
  * each capability is declared natively as a Spark DataFrame program plus,
  * when SQL-expressible, an equivalent DuckDB oracle the driver uses as the
  * correctness gate (FIXTURES.md §3).
  *
  * @param name   stable Q-ID-derived key (also the verify output dir name)
  * @param build  (session, sfDir) => result DataFrame; must alias output
  *               columns identically to the oracle SQL
  * @param oracle ANSI SQL over the same parquet tables, runnable by DuckDB;
  *               None for ops whose exact output is not SQL-expressible
  *               (approximate sketches, model-ish heuristics) — the driver
  *               then records a weaker rows-only check
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** A module of declared queries; SparkEntry concatenates all registries. */
trait QueryRegistry { def defs: Seq[QueryDef] }

/** Standard session configuration applied by every graft entry point
  * (Verify/Bench/Smoke mains, the test session). Central so no loader has
  * to mutate a live session's conf as a side effect.
  */
object Sessions {
  /** Confs every graft session needs:
    *  - UTC so date/timestamp results are engine-portable vs the oracle;
    *  - `nanosAsLong` because the `events` fixture carries parquet
    *    TIMESTAMP(NANOS), which Spark's µs TimestampType otherwise rejects
    *    at read time (the loader then truncates ns → µs explicitly);
    *  - `spark.sql.codegen.cache.maxEntries` = 1000: Spark keeps the
    *    classes it generates in one cache per JVM, sized once when
    *    `CodeGenerator` initialises (default 100), and Guava splits that
    *    bound over 4 segments that evict on their own. One `ingest`
    *    benchmark run (standing BM25 + IVF-PQ build, then batches of
    *    append, both cold probes and compaction) compiles 192 distinct
    *    classes: 44 in set-up, 142 in the first batch, 3 in each later
    *    one. At 100 the cache could not hold one batch's classes, and each
    *    later batch compiled 129 again; 1000 leaves each segment room for
    *    five times its share of that run;
    *  - `spark.hadoop.fs.file.impl` = [[GraftLocalFileSystem]]: without
    *    libhadoop, Hadoop's local FileSystem forks `chmod` for every file,
    *    `.crc` and directory it creates (947 processes in one `ingest`
    *    benchmark run); this one sets the same bits in-process. Hadoop
    *    caches a FileSystem per scheme and user, so the class holds for
    *    the JVM when the first `file:` access comes from a graft session.
    *    A session built without these confs keeps Hadoop's class and
    *    reads and writes the same files.
    */
  def withGraftConfs(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // CH-style introspection: SELECT * FROM system.tables/columns/...
      .config("spark.sql.catalog.system", "graft.connector.SystemCatalog")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)

  def local(cores: String, shufflePartitions: String): SparkSession = {
    val s = withGraftConfs(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", shufflePartitions))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Fixture-table loader (TESTDATA.md): every table is one parquet file.
  *
  * `events.ts` normalization is SCHEMA-AWARE because the driver fixture
  * has shipped the column in two physical forms across rounds:
  *  - parquet TIMESTAMP(NANOS): Spark's µs TimestampType rejects it
  *    outright, so `spark.sql.legacy.parquet.nanosAsLong=true` (set by
  *    [[Sessions]]) lands it as raw int64 and it is truncated ns → µs
  *    here (integral DIV — a double roundtrip would lose precision
  *    above 2^53);
  *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
  *    TIMESTAMP_NTZ; the session timezone is pinned to UTC, so the
  *    wall-clock reading IS the instant and a cast to TimestampType
  *    yields the same values the nanos-era loader produced.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") normalizeEventTs(spark.read.parquet(s"$dir/$name.parquet"))
    else spark.read.parquet(s"$dir/$name.parquet")
}
