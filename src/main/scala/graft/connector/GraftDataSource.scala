package graft.connector

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** DataSource V2 connector speaking Arrow IPC over HTTP — the engine's
  * Layer-A surface (SURVEY.md §2.1 A1/A2/A3/A8/A19; reference client loop
  * `clickhouse-arrow/src/client.rs:1488→643`, HTTP channel
  * `src/http/client.rs:22-219`).
  *
  * Scale design:
  *  - column pruning, filter and limit pushdown translate into the
  *    SELECT text the server executes (`SupportsPushDown*` below), so a
  *    2-column projection of a wide table ships 2 columns;
  *  - compilable filters are fully delegated to the server (the same
  *    trust a JDBC source puts in its database; the reference likewise
  *    ships WHERE to ClickHouse), so LIMIT can push through and no
  *    redundant Spark-side Filter re-runs; non-compilable predicates
  *    stay Spark-side residuals;
  *  - JDBC-style range partitioning (`partitionColumn`/`lowerBound`/
  *    `upperBound`/`numPartitions`) fans one logical scan out into N
  *    independent HTTP range reads, one per executor task — the
  *    100-TB path (the reference's single TCP connection has no
  *    equivalent; its `inner_pool` stripes at most 4,
  *    `src/client/internal.rs:537-569`);
  *  - reads are zero-copy columnar: Arrow buffers wrap straight into
  *    `ColumnarBatch` (A2), writes stream Arrow batches per partition
  *    with one deferred flush (A3/A8).
  *
  * Options: `url` (required), `table` (required), `database`,
  * `maxRowsPerBatch` (write batch split, A9), `partitionColumn`/
  * `lowerBound`/`upperBound`/`numPartitions` (read fan-out).
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-ch"

  private def opt(options: CaseInsensitiveStringMap, key: String): String = {
    val v = options.get(key)
    require(v != null, s"graft-ch: option '$key' is required")
    v
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    CHSettings.maybeWake(options)
    // server schema is authoritative, then the user's per-column
    // `schema.<col>` overrides + string mode rewrite it (the reference's
    // query-time SchemaConversions/ArrowOptions)
    ReadConversions.applySchema(
      CHHttp.fetchSchema(
        opt(options, "url"), opt(options, "table"), Option(options.get("database")),
        CHAuth.fromOptions(options)),
      ReadConversions.fromOptions(options))
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: util.Map[String, String]): Table =
    new CHTable(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true
}

final class CHTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  private val url = options.get("url")
  private val table = options.get("table")
  private val database = Option(options.get("database"))
  private val auth = CHAuth.fromOptions(options)

  // write-only paths (user-supplied schema skips inferSchema) still get
  // the A22 wakeup gate; per-JVM memo makes the repeat check free
  CHSettings.maybeWake(options)

  override def name(): String = CHSql.tableRef(table, database)
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new CHScanBuilder(schema, url, table, database, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val maxRows = Option(options.get("maxRowsPerBatch")).map(_.toInt).getOrElse(65536)
    val codec = Option(options.get("compression")).getOrElse(CHHttp.NoCodec)
    new CHWriteBuilder(info.schema(), url, table, database, maxRows, codec,
      CHSettings.from(options), auth, CHSettings.mappingFrom(options))
  }

  // ---- mutations (ClickHouse `ALTER TABLE ... DELETE WHERE`,
  // `src/client.rs:727` execute path): delete filters compile through the
  // same translator as scan pushdown; non-compilable filters reject the
  // delete (Spark then falls back / errors — never a partial delete).

  // unconditional DELETE arrives as a single AlwaysTrue filter
  private def isAlwaysTrue(f: Filter) = f.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => isAlwaysTrue(f) || CHSql.compileFilter(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val where = filters.filterNot(isAlwaysTrue).flatMap(CHSql.compileFilter)
    if (where.isEmpty) {
      CHHttp.execute(url, s"TRUNCATE TABLE ${CHSql.tableRef(table, database)}", auth)
    } else {
      val cond = where.map(w => s"($w)").mkString(" AND ")
      CHHttp.execute(url, s"ALTER TABLE ${CHSql.tableRef(table, database)} DELETE WHERE $cond", auth)
    }
  }
}

/** Pushdown-aware scan builder (A19 + §4.1: WHERE/SELECT/LIMIT reach the
  * server as SQL). */
final class CHScanBuilder(
    fullSchema: StructType,
    url: String,
    table: String,
    database: Option[String],
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownOffset
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var whereFragments: Seq[String] = Nil
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var orderBy: Seq[String] = Nil
  private var aggSelect: Seq[String] = Nil // SQL select items when agg pushed
  private var aggGroupBy: Seq[String] = Nil
  private var aggSchema: Option[StructType] = None

  // one HTTP range read per executor task when partitionColumn is set;
  // LIMIT/TopN/OFFSET are only FULLY delegable on the single-read plan
  // (a per-partition LIMIT over-delivers; a per-partition OFFSET
  // under-delivers — the JDBC source draws the same line)
  private val singlePartition = options.get("partitionColumn") == null

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val compiled = filters.map(f => f -> CHSql.compileFilter(f))
    pushed = compiled.collect { case (f, Some(_)) => f }
    whereFragments = compiled.collect { case (_, Some(sql)) => sql }.toSeq
    // compilable filters are fully handled by the server (the connector
    // trusts its database exactly like a JDBC source — the reference
    // likewise delegates WHERE to ClickHouse, SURVEY §2.2); only
    // non-compilable filters remain Spark-side residuals
    compiled.collect { case (f, None) => f }
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // top-level pruning only: the server projects COLUMNS, so a
    // nested-pruned struct (Spark asking for `v.variant_type` out of a
    // Variant/Tuple column) must widen back to the table's full field —
    // the wire carries the whole struct and the reader's ordinals must
    // match the declared read schema
    required = StructType(requiredSchema.fields.map { f =>
      fullSchema.fields.find(_.name == f.name).getOrElse(f)
    })

  override def pushLimit(n: Int): Boolean = {
    // single partition: the server's LIMIT IS the global limit (full
    // push, Spark drops its own). Range-partitioned: each range still
    // caps at n, Spark's global limit then merges (partial push). A
    // pushed partial aggregate never emits LIMIT in its SQL, so the
    // limit stays Spark-side there.
    limit = Some(n)
    singlePartition && aggSelect.isEmpty
  }

  // ---- OFFSET pushdown (pairs with LIMIT/TopN): only the single-read
  // plan can skip rows server-side. When a LIMIT was already pushed the
  // pushed value was limit+offset (Spark pushes the combined prefix
  // first), so shrink it back to the post-skip row count — the server
  // then returns exactly rows [offset, offset+limit).
  override def pushOffset(n: Int): Boolean =
    if (singlePartition && aggSelect.isEmpty) {
      limit = limit.map(l => math.max(0, l - n))
      offset = Some(n)
      true
    } else false

  // ---- TopN pushdown (ORDER BY + LIMIT): the server sorts and truncates
  // per scan partition, so the transport carries at most n rows per
  // partition instead of the whole table; Spark's own TopN then merges
  // (partial pushdown — always sound, any partition count).
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (aggSelect.nonEmpty) return false
    val compiled = orders.toSeq.map { so =>
      singleField(so.expression()).map { f =>
        val dir =
          if (so.direction() == SortDirection.ASCENDING) "ASC" else "DESC"
        val nulls =
          if (so.nullOrdering() == NullOrdering.NULLS_FIRST) "NULLS FIRST"
          else "NULLS LAST"
        s"${CHSql.ident(f)} $dir $nulls"
      }
    }
    if (compiled.exists(_.isEmpty)) false
    else {
      orderBy = compiled.flatten
      limit = Some(n)
      true
    }
  }
  // single partition: the server's sort+truncate is complete — Spark
  // drops its own TopN; otherwise Spark merges the per-range prefixes
  override def isPartiallyPushed(): Boolean = !singlePartition

  // ---- aggregate pushdown: GROUP BY + MIN/MAX/SUM/COUNT run server-side
  // per scan partition; Spark merges the partials (partial-pushdown mode,
  // always sound regardless of partition count). At 100 TB this is the
  // big lever: a wide-table GROUP BY ships back #groups rows per
  // partition instead of the raw table.

  private def singleField(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }

  private def sumResultType(dt: DataType): DataType = dt match {
    case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
    case ByteType | ShortType | IntegerType | LongType => LongType
    case _ => DoubleType
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def fieldType(name: String): DataType = fullSchema(name).dataType
    val groups = aggregation.groupByExpressions.toSeq.map(singleField)
    if (groups.exists(_.isEmpty)) return false
    val aggs: Seq[Option[(String, StructField)]] =
      aggregation.aggregateExpressions.toSeq.zipWithIndex.map {
        case (_: CountStar, i) =>
          Some(s"COUNT(*)" -> StructField(s"agg_$i", LongType, nullable = false))
        case (c: Count, i) if !c.isDistinct =>
          singleField(c.column).map(f =>
            s"COUNT(${CHSql.ident(f)})" -> StructField(s"agg_$i", LongType, nullable = false))
        case (m: Min, i) =>
          singleField(m.column).map(f =>
            s"MIN(${CHSql.ident(f)})" -> StructField(s"agg_$i", fieldType(f), nullable = true))
        case (m: Max, i) =>
          singleField(m.column).map(f =>
            s"MAX(${CHSql.ident(f)})" -> StructField(s"agg_$i", fieldType(f), nullable = true))
        case (s: Sum, i) if !s.isDistinct =>
          singleField(s.column).map(f =>
            s"SUM(${CHSql.ident(f)})" -> StructField(s"agg_$i", sumResultType(fieldType(f)), nullable = true))
        case _ => None // distinct aggs / exprs / other funcs: not pushable
      }
    if (aggs.exists(_.isEmpty)) return false
    val groupNames = groups.map(_.get)
    aggGroupBy = groupNames
    aggSelect = groupNames.map(CHSql.ident) ++ aggs.map(_.get._1)
    aggSchema = Some(StructType(
      groupNames.map(n => StructField(n, fieldType(n), fullSchema(n).nullable)) ++ aggs.map(_.get._2)))
    true
  }

  override def build(): Scan =
    new CHScan(required, url, table, database, whereFragments, limit, options,
      aggSelect, aggGroupBy, aggSchema, orderBy, offset)
}

final case class CHInputPartition(
    sql: String, codec: String, settings: Seq[(String, String)] = Nil,
    conv: ReadConversions.Spec = ReadConversions.none,
    auth: CHAuth = CHAuth.none) extends InputPartition

/** Per-query server settings from `settings.*` options — the connector's
  * A15 surface: `option("settings.max_threads", "8")` reaches the server
  * as the `max_threads=8` URL param on every request of that scan/write
  * (the CH HTTP settings contract the reference exposes per query). */
private[connector] object CHSettings {

  /** A22 cloud wakeup gate: with `wakeOnConnect=true`, block until the
    * endpoint answers /ping (a sleeping ClickHouse Cloud instance wakes
    * on it — reference `client/cloud.rs:20-82`), up to
    * `wakeupTimeoutMs` (default 300 s, the reference's
    * CLOUD_WAKEUP_TIMEOUT). No-op when the option is absent or the
    * endpoint already woke this JVM. */
  def maybeWake(options: CaseInsensitiveStringMap): Unit =
    if (options.getBoolean("wakeOnConnect", false)) {
      val url = options.get("url")
      require(url != null, "graft-ch: option 'url' is required")
      val timeout = Option(options.get("wakeupTimeoutMs")).map(_.toLong).getOrElse(300000L)
      require(CHHttp.wakeup(url, CHAuth.fromOptions(options), timeout),
        s"graft-ch: endpoint $url did not answer /ping within $timeout ms " +
          "(wakeOnConnect) — instance still asleep or unreachable")
    }

  /** The reference's remaining ArrowOptions as DSv2 write options
    * (`use_date32_for_date`/`strict_schema`/`nullable_array_default_empty`
    * + `disable_strict_schema_ddl`, client/options.rs:284-290). The
    * reference defaults DDL to strict (`into_strict_ddl`) unless
    * disabled; this connector keeps DDL relaxed unless
    * `disableStrictSchemaDdl=false` is passed explicitly — documented
    * deviation (Spark schemas are nullable-by-default; reference-strict
    * DDL would reject nearly every real DataFrame). */
  def mappingFrom(options: CaseInsensitiveStringMap): graft.types.CHType.MappingOptions = {
    val strictDdl = !options.getBoolean("disableStrictSchemaDdl", true)
    graft.types.CHType.MappingOptions(
      useDate32ForDate = options.getBoolean("useDate32ForDate", false),
      strictSchema = options.getBoolean("strictSchema", false) || strictDdl,
      nullableArrayDefaultEmpty =
        options.getBoolean("nullableArrayDefaultEmpty", true) && !strictDdl)
  }

  def from(options: CaseInsensitiveStringMap): Seq[(String, String)] =
    options.asCaseSensitiveMap().asScala.toSeq.collect {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT).startsWith("settings.") =>
        k.substring("settings.".length) -> v
    }.sortBy(_._1)
}

// ---- DSv2 custom metrics: per-task rows/bytes from the server, summed
// into the Spark UI's scan/write nodes (the A17 counters the reference
// emits as Progress events, surfaced the Spark-native way)
final class CHRowsReadMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "chRowsRead"
  override def description(): String = "rows read from server"
}
final class CHBatchesReadMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "chBatchesRead"
  override def description(): String = "arrow batches read from server"
}
final class CHRowsWrittenMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "chRowsWritten"
  override def description(): String = "rows written to server"
}
final class CHServerReadRowsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "chServerReadRows"
  override def description(): String = "rows read (server-reported summary)"
}
private final case class CHTaskMetric(metricName: String, metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

final class CHScan(
    required: StructType,
    url: String,
    table: String,
    database: Option[String],
    whereFragments: Seq[String],
    limit: Option[Int],
    options: CaseInsensitiveStringMap,
    aggSelect: Seq[String] = Nil,
    aggGroupBy: Seq[String] = Nil,
    aggSchema: Option[StructType] = None,
    orderBy: Seq[String] = Nil,
    offset: Option[Int] = None)
    extends Scan with Batch with SupportsRuntimeFiltering with SupportsReportStatistics {

  private val codec = Option(options.get("compression")).getOrElse(CHHttp.NoCodec)
  private val settings = CHSettings.from(options)
  private val conv = ReadConversions.fromOptions(options)
  private val auth = CHAuth.fromOptions(options)

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new CHRowsReadMetric, new CHBatchesReadMetric, new CHServerReadRowsMetric)

  // ---- server-reported statistics: one cheap `SELECT count(*)` (with the
  // pushed WHERE, so a filtered dim reports its filtered size) gives
  // Spark real row counts where a remote table otherwise defaults to
  // sizeInBytes=Long.MaxValue — which silently disables auto-broadcast
  // for EVERY connector dim and turns 100-TB fact⋈dim plans into
  // shuffle joins. The reference's server knows its sizes natively; over
  // DSv2 this is the SupportsReportStatistics contract. Failures degrade
  // to unknown (never fail planning); `statistics=false` opts out.
  private lazy val serverStats: Statistics = {
    val disabled = "false".equalsIgnoreCase(options.getOrDefault("statistics", "true"))
    def unknown = new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
    if (disabled) unknown
    else try {
      val where =
        if (whereFragments.isEmpty) ""
        else whereFragments.mkString(" WHERE (", ") AND (", ")")
      val sql = s"SELECT COUNT(*) FROM ${CHSql.tableRef(table, database)}$where"
      val in = CHHttp.queryArrow(url, sql, codec, auth = auth)
      val (sch, rows) = try ArrowCodec.decode(in.readAllBytes()) finally in.close()
      val n = rows.head.get(0, sch.fields(0).dataType).asInstanceOf[Number].longValue()
      val rowBytes = math.max(8L, readSchema().defaultSize.toLong)
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(n * rowBytes)
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(n)
      }
    } catch { case _: Exception => unknown }
  }

  override def estimateStatistics(): Statistics = serverStats

  override def readSchema(): StructType = aggSchema.getOrElse(required)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-ch ${CHSql.tableRef(table, database)} " +
      s"pushedWhere=[${whereFragments.mkString(" AND ")}] limit=$limit offset=$offset" +
      (if (orderBy.nonEmpty) s" pushedTopN=[${orderBy.mkString(", ")}]" else "") +
      (if (aggSelect.nonEmpty) s" pushedAggregates=[${aggSelect.mkString(", ")}]" else "") +
      (if (runtimeFragments.nonEmpty) s" runtimeFilters=[${runtimeFragments.mkString(" AND ")}]" else "")

  // ---- runtime join filtering (DPP for a remote scan): at execution
  // time Spark hands the build side's join-key values to the probe-side
  // scan as an `In` filter; compiling it into the pushed WHERE prunes
  // the fact read server-side — the 100-TB fact⋈dim lever. The
  // reference reaches the same effect by delegating whole joins to the
  // server (`src/client.rs:643`); Spark keeps the join and ships only
  // the key set. Non-compilable runtime filters drop silently (they are
  // an optimization, never a correctness requirement — Spark re-applies
  // the join itself).
  private var runtimeFragments: Seq[String] = Nil

  override def filterAttributes(): Array[NamedReference] =
    if (aggSelect.nonEmpty) Array.empty // agg SQL already fixed at build time
    else if (limit.nonEmpty || offset.nonEmpty || orderBy.nonEmpty)
      // pagination was pushed: the server's LIMIT/OFFSET/ORDER BY window
      // is computed BEFORE any later-arriving filter in the same SQL, but
      // Spark's plan places the (dropped or merged) limit BEFORE the join
      // the runtime filter comes from. Injecting the DPP key set into the
      // same pushed SQL would make the server window the FILTERED set —
      // e.g. fact.orderBy(k).limit(n) ⋈ dim would admit row n+5 whenever
      // it matches the dim, which the un-filtered window correctly
      // excludes. Decline runtime filtering; the join re-applies itself.
      Array.empty
    else required.fields.map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(filters: Array[Filter]): Unit =
    runtimeFragments = filters.toSeq.flatMap(CHSql.compileFilter)

  private def sqlFor(where: Seq[String]): String =
    if (aggSelect.nonEmpty) {
      val base = s"SELECT ${aggSelect.mkString(", ")} FROM ${CHSql.tableRef(table, database)}"
      val w = if (where.isEmpty) "" else where.mkString(" WHERE (", ") AND (", ")")
      val g = if (aggGroupBy.isEmpty) "" else s" GROUP BY ${aggGroupBy.map(CHSql.ident).mkString(", ")}"
      base + w + g
    } else {
      CHSql.select(table, database, required.fields.map(_.name).toSeq, where, limit, orderBy, offset)
    }

  // Bounds for the range fan-out: explicit options win; otherwise probe
  // the server once (`SELECT MIN(c), MAX(c)` with the pushed WHERE) —
  // the usability gap JDBC leaves open (it demands explicit bounds) and
  // exactly what the server can answer cheaply from its index.
  private def rangeBounds(pc: String, pushedWhere: Seq[String]): (Long, Long) =
    (Option(options.get("lowerBound")), Option(options.get("upperBound"))) match {
      case (Some(lo), Some(hi)) => (lo.toLong, hi.toLong)
      case _ =>
        val where =
          if (pushedWhere.isEmpty) ""
          else pushedWhere.mkString(" WHERE (", ") AND (", ")")
        val sql = s"SELECT MIN(${CHSql.ident(pc)}), MAX(${CHSql.ident(pc)}) " +
          s"FROM ${CHSql.tableRef(table, database)}$where"
        val in = CHHttp.queryArrow(url, sql, codec, settings, auth)
        val (sch, rows) = try ArrowCodec.decode(in.readAllBytes()) finally in.close()
        def longAt(i: Int): Option[Long] = rows.headOption.flatMap(r =>
          Option(r.get(i, sch.fields(i).dataType)).map(_.asInstanceOf[Number].longValue()))
        // MIN/MAX over zero rows (empty table, or the pushed/runtime WHERE
        // pruned everything) comes back as one row of NULLs — degrade to a
        // single (0,1) range whose one read carries the same WHERE and
        // returns the correct empty result, instead of an NPE at planning
        (longAt(0), longAt(1)) match {
          // upper bound is exclusive in the range split below
          case (Some(lo), Some(hi)) => (lo, hi + 1)
          case _ => (0L, 1L)
        }
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val pushedWhere = whereFragments ++ runtimeFragments
    val partCol = Option(options.get("partitionColumn"))
    partCol match {
      case Some(pc) =>
        val (lower, upper) = rangeBounds(pc, pushedWhere)
        val n = math.max(1, Option(options.get("numPartitions")).map(_.toInt).getOrElse(8))
        val step = math.max(1L, (upper - lower + n - 1) / n)
        (0 until n).map { i =>
          val lo = lower + i * step
          val hi = lower + (i + 1) * step
          val range =
            if (i == 0) s"${CHSql.ident(pc)} < $hi"
            else if (i == n - 1) s"${CHSql.ident(pc)} >= $lo"
            else s"${CHSql.ident(pc)} >= $lo AND ${CHSql.ident(pc)} < $hi"
          CHInputPartition(sqlFor(pushedWhere :+ range), codec, settings, conv, auth)
        }.toArray[InputPartition]
      case None =>
        Array(CHInputPartition(sqlFor(pushedWhere), codec, settings, conv, auth))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CHReaderFactory(url)
}

final class CHReaderFactory(url: String) extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[CHInputPartition]
    new PartitionReader[ColumnarBatch] {
      private val (stream, summary) =
        CHHttp.queryArrowWithSummary(url, p.sql, p.codec, p.settings, p.auth)
      private val reader = new ArrowCodec.BatchReader(stream, p.conv)
      private var rows = 0L
      private var batches = 0L
      override def next(): Boolean = {
        val has = reader.next()
        if (has) { batches += 1; rows += reader.get().numRows() }
        has
      }
      override def get(): ColumnarBatch = reader.get()
      override def close(): Unit = reader.close()
      override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        Array(
          CHTaskMetric("chRowsRead", rows),
          CHTaskMetric("chBatchesRead", batches),
          CHTaskMetric("chServerReadRows", math.max(0L, summary.readRows)))
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // row-based fallback over the same columnar stream
    val columnar = createColumnarReader(partition)
    new PartitionReader[InternalRow] {
      private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
      override def next(): Boolean = {
        while (!rows.hasNext) {
          if (!columnar.next()) return false
          rows = columnar.get().rowIterator()
        }
        true
      }
      override def get(): InternalRow = rows.next()
      override def close(): Unit = columnar.close()
    }
  }
}

// ------------------------------------------------------------- write path

final class CHWriteBuilder(
    schema: StructType, url: String, table: String, database: Option[String],
    maxRows: Int, codec: String, settings: Seq[(String, String)] = Nil,
    auth: CHAuth = CHAuth.none,
    mapping: graft.types.CHType.MappingOptions = graft.types.CHType.MappingOptions.default)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false

  // mode("overwrite") → stage-and-swap (see CHBatchWrite)
  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new CHBatchWrite(schema, url, table, database, maxRows, overwrite, codec, settings, auth,
        mapping)
    override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      Array(new CHRowsWrittenMetric)
  }
}

/** `mode("overwrite")` is stage-and-swap, never truncate-then-stream:
  * writers insert into a fresh staging table; only `commit()` — after
  * every task succeeded — swaps staging into place (rename cycle, the
  * plain-SQL decomposition of ClickHouse `EXCHANGE TABLES`) and drops
  * the displaced data. A mid-job task failure reaches `abort()`, which
  * drops the staging table and leaves the original byte-identical — the
  * failure window of the old TRUNCATE-at-launch design is gone. Task
  * RETRIES within a surviving job can still duplicate a partition's
  * already-streamed batches inside staging (streamed inserts cannot be
  * unsent; the full fix is server-side insert dedup keys), which local
  * runs never hit (maxFailures=1) — documented, not hidden.
  */
final class CHBatchWrite(
    schema: StructType, url: String, table: String, database: Option[String],
    maxRows: Int, overwrite: Boolean, codec: String, settings: Seq[(String, String)] = Nil,
    auth: CHAuth = CHAuth.none,
    mapping: graft.types.CHType.MappingOptions = graft.types.CHType.MappingOptions.default)
    extends BatchWrite {

  private val stagingTable = s"${table}__ow_staging"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val target = if (overwrite) {
      CHHttp.execute(url, graft.ddl.Ddl.dropTable(database, stagingTable), auth)
      CHHttp.execute(url, graft.ddl.Ddl.createTableFromSpark(database, stagingTable, schema,
        graft.ddl.CreateOptions(mapping = mapping)), auth)
      stagingTable
    } else table
    new CHWriterFactory(schema, url, target, database, maxRows, codec, settings, auth)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = if (overwrite) {
    val targetExists =
      try { CHHttp.fetchSchema(url, table, database, auth); true }
      catch { case _: java.io.IOException => false }
    if (targetExists) {
      Mutations.exchangeTables(url, table, stagingTable, database, auth)
      CHHttp.execute(url, graft.ddl.Ddl.dropTable(database, stagingTable), auth) // displaced rows
    } else {
      CHHttp.execute(url,
        s"RENAME TABLE ${CHSql.tableRef(stagingTable, database)} TO ${CHSql.tableRef(table, database)}",
        auth)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = if (overwrite) {
    CHHttp.execute(url, graft.ddl.Ddl.dropTable(database, stagingTable), auth)
  }
}

final case class CHCommit(rows: Long) extends WriterCommitMessage

final class CHWriterFactory(
    schema: StructType, url: String, table: String, database: Option[String],
    maxRows: Int, codec: String, settings: Seq[(String, String)] = Nil,
    auth: CHAuth = CHAuth.none)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CHDataWriter(schema, url, table, database, maxRows, partitionId, codec, settings, auth)
}

/** Per-partition insert writer (A8): rows buffer into Arrow batches of
  * `maxRows` (A9 splitter) and each finished batch streams straight into
  * the chunked HTTP request body — one POST per partition, opened at the
  * first row, completed (and status-checked) in `commit()`. Constant
  * memory: at most one Arrow batch + the 1 MiB HTTP chunk buffer on the
  * heap, however large the partition (the round-2 version buffered the
  * whole partition's IPC bytes and would OOM / overflow >2 GB at the
  * 100-TB design point). Executors write in parallel, one insert stream
  * per partition. An empty partition never opens a connection — except
  * partition 0, whose commit sends a schema-only insert so an empty
  * append still reaches (and is validated by) the server exactly once,
  * like the reference's empty insert block.
  */
final class CHDataWriter(
    schema: StructType, url: String, table: String, database: Option[String],
    maxRows: Int, partitionId: Int, codec: String, settings: Seq[(String, String)] = Nil,
    auth: CHAuth = CHAuth.none)
    extends DataWriter[InternalRow] {

  private val insertSql = {
    val cols = schema.fields.map(f => CHSql.ident(f.name)).mkString(", ")
    s"INSERT INTO ${CHSql.tableRef(table, database)} ($cols)"
  }
  private var conn: java.net.HttpURLConnection = _
  private var out: java.io.OutputStream = _
  private var encoder: ArrowCodec.Encoder = _
  private var count = 0L

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(CHTaskMetric("chRowsWritten", count))

  override def write(row: InternalRow): Unit = {
    if (encoder == null) {
      conn = CHHttp.openInsert(url, insertSql, codec, settings, auth)
      out = CHHttp.insertStream(conn, codec) // compressing wrapper (A7)
      encoder = new ArrowCodec.Encoder(schema, maxRows, out)
    }
    encoder.write(row)
    count += 1
  }

  override def commit(): WriterCommitMessage = {
    if (encoder != null) {
      encoder.finish()
      out.close() // finishes the compression frame before the HTTP body ends
      CHHttp.finishInsert(conn, insertSql)
      encoder = null
    } else if (partitionId == 0) {
      CHHttp.insertArrow(url, insertSql,
        o => { val e = new ArrowCodec.Encoder(schema, maxRows, o); e.finish() }, codec, auth)
    }
    CHCommit(count)
  }

  override def abort(): Unit = if (conn != null) conn.disconnect()
  override def close(): Unit = ()
}
