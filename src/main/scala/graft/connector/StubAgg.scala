package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** GROUP-BY/aggregate evaluator for [[StubCHServer]] — a real ClickHouse
  * executes the aggregates the connector pushes down
  * (SupportsPushDownAggregates), so the offline stand-in must too. The
  * grammar is exactly what `CHScan.sqlFor` emits: a select list of
  * backticked group columns and `COUNT(*)/COUNT(c)/MIN(c)/MAX(c)/SUM(c)`,
  * plus an optional `GROUP BY`. Output types mirror the connector's
  * declared read schema (LongType counts, field-typed min/max, widened
  * sums).
  */
private[connector] object StubAgg {

  private sealed trait Item
  private final case class GroupCol(idx: Int) extends Item
  private final case class Agg(fn: String, idx: Int) extends Item // idx -1 = *

  def run(colsPart: String, schema: StructType,
      rows: Vector[InternalRow]): Either[String, Array[Byte]] =
    try {
      val items = graft.functions.SqlLexer.splitTopLevel(colsPart).map(_.trim).filter(_.nonEmpty)
        .map(parseItem(_, schema))
      val groupIdx = items.collect { case GroupCol(i) => i }
      val outSchema = StructType(items.map {
        case GroupCol(i) => schema.fields(i)
        case Agg("COUNT", _) => StructField("agg", LongType, nullable = false)
        case Agg(fn, i) if fn == "MIN" || fn == "MAX" =>
          StructField("agg", schema.fields(i).dataType, nullable = true)
        case Agg("SUM", i) => StructField("agg", sumType(schema.fields(i).dataType), nullable = true)
        case other => throw new IllegalArgumentException(s"bad agg item $other")
      })
      val grouped: Seq[(Seq[Any], Vector[InternalRow])] =
        if (groupIdx.isEmpty) Seq(Seq.empty[Any] -> rows)
        else rows.groupBy(r => groupIdx.map(i => r.get(i, schema.fields(i).dataType)).toSeq).toSeq
      val out = grouped.iterator.map { case (key, rs) =>
        var ki = 0
        InternalRow.fromSeq(items.map {
          case GroupCol(_) => val v = key(ki); ki += 1; v
          case Agg(fn, i) => evalAgg(fn, i, schema, rs)
        })
      }
      Right(ArrowCodec.encode(outSchema, out))
    } catch {
      case e: Exception => Left(s"stub agg: ${e.getMessage}")
    }

  private def sumType(dt: DataType): DataType = dt match {
    case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
    case ByteType | ShortType | IntegerType | LongType => LongType
    case _ => DoubleType
  }

  private val aggRe = java.util.regex.Pattern.compile(
    "(?i)^(COUNT|MIN|MAX|SUM)\\s*\\(\\s*(\\*|`((?:[^`\\\\]|\\\\.)*)`)\\s*\\)$")
  private val identRe = java.util.regex.Pattern.compile("^`((?:[^`\\\\]|\\\\.)*)`$")

  private def unescapeIdent(s: String): String =
    s.replace("\\`", "`").replace("\\\\", "\\")

  private def parseItem(item: String, schema: StructType): Item = {
    val am = aggRe.matcher(item)
    if (am.matches()) {
      val idx = if (am.group(2) == "*") -1 else schema.fieldIndex(unescapeIdent(am.group(3)))
      Agg(am.group(1).toUpperCase, idx)
    } else {
      val im = identRe.matcher(item)
      require(im.matches(), s"cannot parse select item: $item")
      GroupCol(schema.fieldIndex(unescapeIdent(im.group(1))))
    }
  }

  private def evalAgg(fn: String, idx: Int, schema: StructType, rs: Vector[InternalRow]): Any = {
    def values: Vector[Any] = {
      val dt = schema.fields(idx).dataType
      rs.collect { case r if !r.isNullAt(idx) => r.get(idx, dt) }
    }
    fn match {
      case "COUNT" if idx < 0 => rs.size.toLong
      case "COUNT" => values.size.toLong
      case "MIN" | "MAX" =>
        val vs = values
        if (vs.isEmpty) null
        else {
          val cmp = comparator(schema.fields(idx).dataType)
          if (fn == "MIN") vs.min(cmp) else vs.max(cmp)
        }
      case "SUM" =>
        val vs = values
        if (vs.isEmpty) null
        else schema.fields(idx).dataType match {
          case ByteType => vs.map(_.asInstanceOf[Byte].toLong).sum
          case ShortType => vs.map(_.asInstanceOf[Short].toLong).sum
          case IntegerType => vs.map(_.asInstanceOf[Int].toLong).sum
          case LongType => vs.map(_.asInstanceOf[Long]).sum
          case FloatType => vs.map(_.asInstanceOf[Float].toDouble).sum
          case DoubleType => vs.map(_.asInstanceOf[Double]).sum
          case d: DecimalType =>
            val s = vs.map(_.asInstanceOf[Decimal].toJavaBigDecimal).reduce(_.add(_))
            Decimal(s, math.min(38, d.precision + 10), d.scale)
          case other => throw new IllegalArgumentException(s"SUM over $other")
        }
    }
  }

  private def comparator(dt: DataType): Ordering[Any] = {
    val ord: Ordering[_] = dt match {
      case ByteType => Ordering.Byte
      case ShortType => Ordering.Short
      case IntegerType | DateType => Ordering.Int
      case LongType | TimestampType | TimestampNTZType => Ordering.Long
      case FloatType => Ordering.Float.TotalOrdering
      case DoubleType => Ordering.Double.TotalOrdering
      case StringType => Ordering.fromLessThan[UTF8String]((a, b) => a.compareTo(b) < 0)
      case _: DecimalType => Ordering.by((d: Decimal) => d.toJavaBigDecimal)
      case other => throw new IllegalArgumentException(s"MIN/MAX over $other")
    }
    ord.asInstanceOf[Ordering[Any]]
  }
}
