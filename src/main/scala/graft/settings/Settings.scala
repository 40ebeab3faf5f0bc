package graft.settings

import graft.functions.SqlLexer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session settings + bound query parameters (SURVEY.md §2.1 A15;
  * reference: typed settings registry `clickhouse-arrow/src/settings.rs:
  * 81-428`, bound params `src/query.rs:71-166`, e2e
  * `tests/tests/params.rs`).
  *
  * The reference ships ClickHouse setting key/values and `{p:Type}` bound
  * params on the wire; the Spark-native equivalents are session confs and
  * `spark.sql(sql, args)` named parameters. A small registry maps the
  * ClickHouse setting names a reference user would set onto their Spark
  * counterparts, so `GraftSettings(Map("max_threads" -> "16"))` works
  * unchanged.
  */
final case class GraftSettings(settings: Map[String, String] = Map.empty) {

  /** Apply to a session; returns the previous values for restore. */
  def apply(spark: SparkSession): Map[String, Option[String]] = {
    val prior = settings.keys.map { k =>
      val sk = GraftSettings.sparkKey(k)
      sk -> spark.conf.getOption(sk)
    }.toMap
    settings.foreach { case (k, v) => spark.conf.set(GraftSettings.sparkKey(k), v) }
    prior
  }

  def restore(spark: SparkSession, prior: Map[String, Option[String]]): Unit =
    prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

  /** Run `body` with the settings applied, restoring afterwards — the
    * per-query settings scope the reference attaches to each query. */
  def scoped[A](spark: SparkSession)(body: => A): A = {
    val prior = apply(spark)
    try body finally restore(spark, prior)
  }
}

object GraftSettings {
  /** ClickHouse setting name → Spark conf (extend as needed). Unknown
    * names pass through untouched so native Spark confs also work. */
  private val mapping = Map(
    "max_threads" -> "spark.sql.shuffle.partitions",
    "max_result_rows" -> "spark.sql.maxResultRows", // advisory; Limited() enforces
    "max_memory_usage" -> "spark.sql.execution.arrow.maxBytesPerBatch",
    "join_algorithm" -> "spark.sql.join.preferSortMergeJoin",
    "max_block_size" -> "spark.sql.parquet.columnarReaderBatchSize",
    "timezone" -> "spark.sql.session.timeZone")

  def sparkKey(k: String): String = mapping.getOrElse(k, k)
}

/** Parameterized SQL (the `{name:Type}` server-side binding of
  * `src/query.rs:71-166`, Spark-native form). */
object Params {

  private val identParam =
    java.util.regex.Pattern.compile("(?s)\\{\\s*([A-Za-z_]\\w*)\\s*:\\s*Identifier\\s*\\}")

  /** CH `{name:Identifier}` params substitute CLIENT-side (the reference
    * binds identifiers into the text, `src/query.rs` — a server value
    * binding cannot name a table/column). Substituted here: validated,
    * backtick-quoted per dot-part, and removed from the value-binding
    * map; the remaining `{name:Type}` value params ride to the engine
    * binding through the rescue rewrite. */
  private def bindIdentifiers(
      sqlText: String, args: Map[String, Any]): (String, Map[String, Any]) = {
    val used = scala.collection.mutable.Set.empty[String]
    val sb = new java.lang.StringBuilder
    var copied = 0
    // markers in code only: a `{t:Identifier}` inside a literal or a
    // comment is text, not a parameter
    val w = new SqlLexer.Walk(sqlText)
    while (w.nextCode()) if (w.isSym('{')) {
      val close = sqlText.indexOf('}', w.start)
      val m = if (close < 0) null else identParam.matcher(sqlText.substring(w.start, close + 1))
      if (m != null && m.matches()) {
        val k = m.group(1)
        val v = args.getOrElse(k, throw new IllegalArgumentException(
          s"Params: no value bound for identifier param {$k:Identifier}")).toString
        val quoted = v.split('.').map { part =>
          require(part.nonEmpty && !part.contains('`'),
            s"Params: invalid identifier '$v' for {$k:Identifier}")
          s"`$part`"
        }.mkString(".")
        sb.append(sqlText, copied, w.start).append(quoted)
        copied = close + 1
        w.jump(copied)
        used += k
      }
    }
    sb.append(sqlText, copied, sqlText.length)
    (sb.toString, args -- used)
  }

  /** Run SQL with named parameters bound engine-side (never string
    * interpolation for VALUES — same injection-safety the reference
    * gets from server-side binding; identifier params are the one
    * documented exception, quoted + validated client-side like the
    * reference). Accepts both Spark's `:name` markers and CH's
    * `{name:Type}` spelling (rewritten by the rescue tier). */
  def sql(spark: SparkSession, sqlText: String, args: Map[String, Any]): DataFrame = {
    val (text, rest) = bindIdentifiers(sqlText, args)
    spark.sql(text, rest)
  }

  /** Positional variant. */
  def sql(spark: SparkSession, sqlText: String, args: Array[Any]): DataFrame =
    spark.sql(sqlText, args)
}

/** Query-result cache (reference: the `query_cache` family in
  * `clickhouse-arrow/src/settings.rs` — ClickHouse's server-side result
  * cache, `use_query_cache`/`query_cache_ttl`). Spark-native form: the
  * normalized SQL text keys a persisted DataFrame; a hit returns the
  * already-materialized result without touching the source. LRU-bounded —
  * eviction UNPERSISTS, so executor storage never accumulates beyond
  * `capacity` results (the round-2 `Limited` leak, learned from).
  *
  * Normalization is whitespace-collapse in code only (same contract as
  * CH: the cache keys on the AST of the text, not semantic equivalence):
  * literals and comments stay verbatim, and the caller's own text runs.
  */
final class QueryCache(spark: SparkSession, capacity: Int = 32) {

  private var hitCount = 0L
  private var missCount = 0L

  private val entries =
    new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, DataFrame]): Boolean = {
        val evict = size() > capacity
        if (evict) e.getValue.unpersist(false)
        evict
      }
    }

  /** Run (or replay) a SQL query through the cache. */
  def sql(query: String): DataFrame = synchronized {
    val key = SqlLexer.collapseSpace(query)
    entries.get(key) match {
      case null =>
        missCount += 1
        val df = spark.sql(query)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        entries.put(key, df)
        df
      case hit =>
        hitCount += 1
        hit
    }
  }

  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def size: Int = synchronized(entries.size())

  /** Drop everything (CH `SYSTEM DROP QUERY CACHE`). */
  def clear(): Unit = synchronized {
    entries.values().forEach(_.unpersist(false))
    entries.clear()
  }
}
