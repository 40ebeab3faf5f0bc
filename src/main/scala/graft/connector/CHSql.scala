package graft.connector

import org.apache.spark.sql.sources._

/** ClickHouse-SQL text generation for the connector: identifier/literal
  * escaping (reference: `clickhouse-arrow/src/http/escape.rs`) and the
  * pushdown translation of Spark `Filter`s into WHERE clauses
  * (the DSv2 counterpart of the reference's server-side pushdown — the
  * server plans WHERE/SELECT/LIMIT itself, SURVEY.md §4.1).
  */
object CHSql {

  /** Backtick-quoted identifier, backticks and backslashes escaped. */
  def ident(name: String): String =
    "`" + name.replace("\\", "\\\\").replace("`", "\\`") + "`"

  /** Table reference: `db`.`table` or `table`. */
  def tableRef(table: String, database: Option[String]): String =
    database.map(d => s"${ident(d)}.").getOrElse("") + ident(table)

  /** Single-quoted string literal, backslash + quote escaped. */
  def stringLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  // ISO-8601 'T' form: ClickHouse's DateTime64 text parser accepts it,
  // and unlike LocalDateTime.toString it never drops trailing zero parts
  private val ntzFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS", java.util.Locale.ROOT)

  /** Literal for a filter value, or None when the value type has no known
    * server-side text form. The None path matters: an unknown type must
    * make `compileFilter` return None (a Spark-side residual) rather than
    * emit `toString` garbage the server would reject — a pushed filter has
    * no residual fallback.
    */
  def litOpt(v: Any): Option[String] = v match {
    case null => Some("NULL")
    case s: String => Some(stringLit(s))
    case s: org.apache.spark.unsafe.types.UTF8String => Some(stringLit(s.toString))
    case b: Boolean => Some(if (b) "1" else "0")
    case _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double =>
      Some(v.toString)
    case d: java.sql.Date => Some(s"toDate(${stringLit(d.toString)})")
    case d: java.time.LocalDate => Some(s"toDate(${stringLit(d.toString)})")
    case t: java.sql.Timestamp =>
      Some(s"toDateTime64(${stringLit(t.toInstant.toString.stripSuffix("Z"))}, 6)")
    case t: java.time.Instant =>
      Some(s"toDateTime64(${stringLit(t.toString.stripSuffix("Z"))}, 6)")
    case t: java.time.LocalDateTime => // TimestampNTZ filter values: wall clock, no zone
      Some(s"toDateTime64(${stringLit(ntzFmt.format(t))}, 6)")
    case b: Array[Byte] => Some("unhex(" + stringLit(b.map("%02x".format(_)).mkString) + ")")
    case n: java.math.BigDecimal => Some(n.toPlainString)
    case n: BigDecimal => Some(n.underlying.toPlainString)
    case _ => None
  }

  def lit(v: Any): String = litOpt(v).getOrElse(
    throw new IllegalArgumentException(s"no ClickHouse literal form for ${v.getClass.getName}"))

  /** LIKE-pattern escape for startsWith/endsWith/contains pushdown. */
  private def likeLit(fragment: String, prefix: String, suffix: String): String =
    stringLit(prefix + fragment.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_") + suffix)

  /** The CH column a V1 filter attribute names. Spark hands the name over
    * as SQL text: backtick-quoted when it is not plain `[A-Za-z0-9_]`, and
    * dotted for a nested field (`s.x`, `v.variant_type`), which has no
    * one-identifier CH spelling (None). */
  private def column(attr: String): Option[String] =
    try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseMultipartIdentifier(attr) match {
      case Seq(name) => Some(ident(name))
      case _ => None
    } catch { case _: org.apache.spark.sql.catalyst.parser.ParseException => None }

  private def col(attr: String): String = column(attr).get

  /** Compile one Spark filter to a CH WHERE fragment; None = not
    * pushable (stays a Spark-side residual only). */
  def compileFilter(f: Filter): Option[String] = f match {
    // a nested-field filter stays Spark-side as a residual
    case _ if f.references.exists(column(_).isEmpty) => None
    case EqualTo(a, v) => litOpt(v).map(l => s"${col(a)} = $l")
    case EqualNullSafe(a, null) => Some(s"${col(a)} IS NULL")
    case EqualNullSafe(a, v) => litOpt(v).map(l => s"${col(a)} IS NOT NULL AND ${col(a)} = $l")
    case GreaterThan(a, v) => litOpt(v).map(l => s"${col(a)} > $l")
    case GreaterThanOrEqual(a, v) => litOpt(v).map(l => s"${col(a)} >= $l")
    case LessThan(a, v) => litOpt(v).map(l => s"${col(a)} < $l")
    case LessThanOrEqual(a, v) => litOpt(v).map(l => s"${col(a)} <= $l")
    case In(a, vs) if vs.nonEmpty =>
      val ls = vs.map(litOpt)
      if (ls.exists(_.isEmpty)) None
      else Some(s"${col(a)} IN (${ls.map(_.get).mkString(", ")})")
    case IsNull(a) => Some(s"${col(a)} IS NULL")
    case IsNotNull(a) => Some(s"${col(a)} IS NOT NULL")
    case StringStartsWith(a, v) => Some(s"${col(a)} LIKE ${likeLit(v, "", "%")}")
    case StringEndsWith(a, v) => Some(s"${col(a)} LIKE ${likeLit(v, "%", "")}")
    case StringContains(a, v) => Some(s"${col(a)} LIKE ${likeLit(v, "%", "%")}")
    case And(l, r) =>
      for (cl <- compileFilter(l); cr <- compileFilter(r)) yield s"($cl AND $cr)"
    case Or(l, r) =>
      for (cl <- compileFilter(l); cr <- compileFilter(r)) yield s"($cl OR $cr)"
    case Not(c) => compileFilter(c).map(cc => s"(NOT $cc)")
    case _ => None
  }

  /** Build the pushed-down SELECT for one scan partition. Pagination uses
    * the ClickHouse forms `LIMIT n OFFSET m` / standalone `OFFSET m ROWS`
    * (SQL-standard OFFSET clause). */
  def select(
      table: String,
      database: Option[String],
      columns: Seq[String],
      whereFragments: Seq[String],
      limit: Option[Int],
      orderBy: Seq[String] = Nil,
      offset: Option[Int] = None): String = {
    val cols = if (columns.isEmpty) "1" else columns.map(ident).mkString(", ")
    val where =
      if (whereFragments.isEmpty) "" else whereFragments.mkString(" WHERE (", ") AND (", ")")
    val ord = if (orderBy.isEmpty) "" else s" ORDER BY ${orderBy.mkString(", ")}"
    val page = (limit, offset) match {
      case (Some(n), Some(m)) => s" LIMIT $n OFFSET $m"
      case (Some(n), None) => s" LIMIT $n"
      case (None, Some(m)) => s" OFFSET $m ROWS"
      case (None, None) => ""
    }
    s"SELECT $cols FROM ${tableRef(table, database)}$where$ord$page"
  }
}
