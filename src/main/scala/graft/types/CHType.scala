package graft.types

import org.apache.spark.sql.types._

/** ClickHouse logical type ADT — the Spark-side mirror of the reference's
  * `Type` enum (`clickhouse-arrow/src/native/types.rs:34-134`), which is the
  * single source of truth driving its wire serde and Arrow mapping
  * (`src/arrow/types.rs:205-479`). Here it drives the bidirectional
  * ClickHouse ⇄ Spark SQL type mapping (SURVEY.md §1.2) plus the type-string
  * parser/printer needed for DDL and `system.tables` schemas.
  */
sealed trait CHType {
  def show: String = CHType.format(this)
}

object CHType {
  // integral
  case object Int8 extends CHType
  case object Int16 extends CHType
  case object Int32 extends CHType
  case object Int64 extends CHType
  case object Int128 extends CHType
  case object Int256 extends CHType
  case object UInt8 extends CHType
  case object UInt16 extends CHType
  case object UInt32 extends CHType
  case object UInt64 extends CHType
  case object UInt128 extends CHType
  case object UInt256 extends CHType
  // floating
  case object Float32 extends CHType
  case object Float64 extends CHType
  case object BFloat16 extends CHType
  // decimal — Decimal32(s)/Decimal64(s)/Decimal128(s)/Decimal256(s) are
  // printed forms of (precision bucket, scale) like the reference
  // (native/types.rs:53-56)
  final case class Decimal(precision: Int, scale: Int) extends CHType
  // strings / binary
  case object CHString extends CHType
  final case class FixedString(n: Int) extends CHType
  case object Uuid extends CHType
  // dates / times
  case object Date extends CHType // u16 days since 1970 (values/date.rs:11)
  case object Date32 extends CHType // i32 days since 1900-01-01 (values/date.rs:88-99)
  final case class DateTime(tz: Option[String]) extends CHType
  final case class DateTime64(precision: Int, tz: Option[String]) extends CHType
  case object Time extends CHType // seconds since midnight (values.rs:108)
  final case class Time64(precision: Int) extends CHType
  // network
  case object Ipv4 extends CHType
  case object Ipv6 extends CHType
  // enums
  final case class Enum8(values: Seq[(String, Int)]) extends CHType
  final case class Enum16(values: Seq[(String, Int)]) extends CHType
  // composite
  final case class Nullable(inner: CHType) extends CHType
  final case class LowCardinality(inner: CHType) extends CHType
  final case class Arr(inner: CHType) extends CHType
  final case class Tup(items: Seq[CHType], names: Seq[String] = Nil) extends CHType
  final case class CHMap(key: CHType, value: CHType) extends CHType
  final case class Nested(fields: Seq[(String, CHType)]) extends CHType
  // geo (aliases over tuple/array forms, normalized before serde like
  // native/types/geo.rs:11 normalize_geo_type)
  case object Point extends CHType
  case object Ring extends CHType
  case object Polygon extends CHType
  case object MultiPolygon extends CHType
  // dynamic / semi-structured
  case object Json extends CHType // Object('json') → Utf8 (arrow/types.rs:400)
  final case class Variant(branches: Seq[CHType]) extends CHType
  final case class Dynamic(maxTypes: Option[Int]) extends CHType
  // aggregate states
  final case class AggregateFunction(fn: String, args: Seq[CHType]) extends CHType
  final case class SimpleAggregateFunction(fn: String, args: Seq[CHType]) extends CHType

  /** Days between 1900-01-01 (Date32 epoch) and 1970-01-01 (Spark epoch) —
    * the rebase the reference applies on deserialize
    * (arrow/deserialize/primitive.rs:61-64). */
  val Date32EpochOffsetDays: Int = 25567

  // ---------------------------------------------------------------- printer

  private def fmtEnum(vs: Seq[(String, Int)]): String =
    vs.map { case (n, v) => s"'${n.replace("'", "\\'")}' = $v" }.mkString(", ")

  def format(t: CHType): String = t match {
    case Int8 => "Int8"
    case Int16 => "Int16"
    case Int32 => "Int32"
    case Int64 => "Int64"
    case Int128 => "Int128"
    case Int256 => "Int256"
    case UInt8 => "UInt8"
    case UInt16 => "UInt16"
    case UInt32 => "UInt32"
    case UInt64 => "UInt64"
    case UInt128 => "UInt128"
    case UInt256 => "UInt256"
    case Float32 => "Float32"
    case Float64 => "Float64"
    case BFloat16 => "BFloat16"
    // generic Decimal(P, S) keeps the exact precision (ClickHouse accepts
    // both forms; Decimal32(s)..Decimal256(s) are parsed as bucket widths)
    case Decimal(p, s) => s"Decimal($p, $s)"
    case CHString => "String"
    case FixedString(n) => s"FixedString($n)"
    case Uuid => "UUID"
    case Date => "Date"
    case Date32 => "Date32"
    case DateTime(None) => "DateTime"
    case DateTime(Some(tz)) => s"DateTime('$tz')"
    case DateTime64(p, None) => s"DateTime64($p)"
    case DateTime64(p, Some(tz)) => s"DateTime64($p, '$tz')"
    case Time => "Time"
    case Time64(p) => s"Time64($p)"
    case Ipv4 => "IPv4"
    case Ipv6 => "IPv6"
    case Enum8(vs) => s"Enum8(${fmtEnum(vs)})"
    case Enum16(vs) => s"Enum16(${fmtEnum(vs)})"
    case Nullable(i) => s"Nullable(${format(i)})"
    case LowCardinality(i) => s"LowCardinality(${format(i)})"
    case Arr(i) => s"Array(${format(i)})"
    case Tup(items, Nil) => s"Tuple(${items.map(format).mkString(", ")})"
    case Tup(items, names) =>
      s"Tuple(${names.zip(items).map { case (n, i) => s"$n ${format(i)}" }.mkString(", ")})"
    case CHMap(k, v) => s"Map(${format(k)}, ${format(v)})"
    case Nested(fs) =>
      s"Nested(${fs.map { case (n, i) => s"$n ${format(i)}" }.mkString(", ")})"
    case Point => "Point"
    case Ring => "Ring"
    case Polygon => "Polygon"
    case MultiPolygon => "MultiPolygon"
    case Json => "JSON"
    case Variant(bs) => s"Variant(${bs.map(format).mkString(", ")})"
    case Dynamic(None) => "Dynamic"
    case Dynamic(Some(m)) => s"Dynamic(max_types=$m)"
    case AggregateFunction(fn, args) =>
      s"AggregateFunction(${(fn +: args.map(format)).mkString(", ")})"
    case SimpleAggregateFunction(fn, args) =>
      s"SimpleAggregateFunction(${(fn +: args.map(format)).mkString(", ")})"
  }

  // ----------------------------------------------------------------- parser

  /** Recursive-descent parser for ClickHouse type strings (the syntax the
    * reference parses in `native/types.rs` `from_str`): handles nesting,
    * quoted enum/tz literals, named tuples, parameterized decimals.
    */
  def parse(s: String): CHType = {
    val p = new Parser(s)
    val t = p.parseType()
    p.skipWs()
    require(p.atEnd, s"trailing input at ${p.pos} in type string: $s")
    t
  }

  private final class Parser(val s: String) {
    var pos = 0
    def atEnd: Boolean = pos >= s.length
    def skipWs(): Unit = while (!atEnd && s(pos).isWhitespace) pos += 1
    def peek: Char = s(pos)

    def expect(c: Char): Unit = {
      skipWs()
      require(!atEnd && s(pos) == c, s"expected '$c' at $pos in: $s")
      pos += 1
    }

    private def ident(): String = {
      skipWs()
      val start = pos
      while (!atEnd && (s(pos).isLetterOrDigit || s(pos) == '_')) pos += 1
      require(pos > start, s"expected identifier at $pos in: $s")
      s.substring(start, pos)
    }

    private def quoted(): String = {
      skipWs()
      expect('\'')
      val sb = new StringBuilder
      while (!atEnd && s(pos) != '\'') {
        if (s(pos) == '\\' && pos + 1 < s.length) { sb += s(pos + 1); pos += 2 }
        else { sb += s(pos); pos += 1 }
      }
      expect('\'')
      sb.toString
    }

    private def int(): Int = {
      skipWs()
      val start = pos
      if (!atEnd && (s(pos) == '-' || s(pos) == '+')) pos += 1
      while (!atEnd && s(pos).isDigit) pos += 1
      s.substring(start, pos).toInt
    }

    private def enumValues(): Seq[(String, Int)] = {
      val buf = Seq.newBuilder[(String, Int)]
      var more = true
      while (more) {
        val name = quoted()
        expect('=')
        buf += name -> int()
        skipWs()
        if (!atEnd && peek == ',') pos += 1 else more = false
      }
      buf.result()
    }

    private def typeList(): Seq[CHType] = {
      val buf = Seq.newBuilder[CHType]
      var more = true
      while (more) {
        buf += parseType()
        skipWs()
        if (!atEnd && peek == ',') pos += 1 else more = false
      }
      buf.result()
    }

    private def namedFields(): Seq[(String, CHType)] = {
      val buf = Seq.newBuilder[(String, CHType)]
      var more = true
      while (more) {
        val n = ident()
        buf += n -> parseType()
        skipWs()
        if (!atEnd && peek == ',') pos += 1 else more = false
      }
      buf.result()
    }

    def parseType(): CHType = {
      val name = ident()
      skipWs()
      val hasArgs = !atEnd && peek == '('
      name match {
        case "Int8" => Int8
        case "Int16" => Int16
        case "Int32" => Int32
        case "Int64" => Int64
        case "Int128" => Int128
        case "Int256" => Int256
        case "UInt8" => UInt8
        case "UInt16" => UInt16
        case "UInt32" => UInt32
        case "UInt64" => UInt64
        case "UInt128" => UInt128
        case "UInt256" => UInt256
        case "Float32" => Float32
        case "Float64" => Float64
        case "BFloat16" => BFloat16
        case "String" => CHString
        case "UUID" => Uuid
        case "Date" => Date
        case "Date32" => Date32
        case "Time" => Time
        case "IPv4" => Ipv4
        case "IPv6" => Ipv6
        case "Point" => Point
        case "Ring" => Ring
        case "Polygon" => Polygon
        case "MultiPolygon" => MultiPolygon
        case "JSON" | "Object" =>
          if (hasArgs) { expect('('); quoted(); expect(')') } // Object('json')
          Json
        case "Bool" => UInt8 // wire form of Bool (arrow/types.rs:220)
        case "Decimal" =>
          expect('('); val p = int(); expect(','); val sc = int(); expect(')')
          Decimal(p, sc)
        case "Decimal32" => expect('('); val sc = int(); expect(')'); Decimal(9, sc)
        case "Decimal64" => expect('('); val sc = int(); expect(')'); Decimal(18, sc)
        case "Decimal128" => expect('('); val sc = int(); expect(')'); Decimal(38, sc)
        case "Decimal256" => expect('('); val sc = int(); expect(')'); Decimal(76, sc)
        case "FixedString" => expect('('); val n = int(); expect(')'); FixedString(n)
        case "DateTime" =>
          if (hasArgs) { expect('('); val tz = quoted(); expect(')'); DateTime(Some(tz)) }
          else DateTime(None)
        case "DateTime64" =>
          expect('('); val p = int()
          skipWs()
          val tz = if (!atEnd && peek == ',') { pos += 1; Some(quoted()) } else None
          expect(')')
          DateTime64(p, tz)
        case "Time64" => expect('('); val p = int(); expect(')'); Time64(p)
        case "Enum8" => expect('('); val vs = enumValues(); expect(')'); Enum8(vs)
        case "Enum16" => expect('('); val vs = enumValues(); expect(')'); Enum16(vs)
        case "Nullable" => expect('('); val i = parseType(); expect(')'); Nullable(i)
        case "LowCardinality" => expect('('); val i = parseType(); expect(')'); LowCardinality(i)
        case "Array" => expect('('); val i = parseType(); expect(')'); Arr(i)
        case "Map" =>
          expect('('); val k = parseType(); expect(','); val v = parseType(); expect(')')
          CHMap(k, v)
        case "Tuple" =>
          expect('(')
          // lookahead: named tuple iff two identifiers in a row
          val save = pos
          val named =
            try { ident(); skipWs(); !atEnd && (s(pos).isLetter || s(pos) == '_') }
            catch { case _: IllegalArgumentException => false }
          pos = save
          val t =
            if (named) { val fs = namedFields(); Tup(fs.map(_._2), fs.map(_._1)) }
            else Tup(typeList())
          expect(')')
          t
        case "Nested" => expect('('); val fs = namedFields(); expect(')'); Nested(fs)
        case "Variant" => expect('('); val bs = typeList(); expect(')'); Variant(bs)
        case "Dynamic" =>
          if (hasArgs) {
            expect('(')
            skipWs()
            val kw = ident(); require(kw == "max_types", s"unexpected Dynamic arg $kw")
            expect('='); val m = int(); expect(')')
            Dynamic(Some(m))
          } else Dynamic(None)
        case "AggregateFunction" =>
          expect('('); val fn = aggFnName(); val args = typeListOrEmpty(); expect(')')
          AggregateFunction(fn, args)
        case "SimpleAggregateFunction" =>
          expect('('); val fn = aggFnName(); val args = typeListOrEmpty(); expect(')')
          SimpleAggregateFunction(fn, args)
        case other => throw new IllegalArgumentException(s"unknown ClickHouse type: $other in $s")
      }
    }

    /** Aggregate-function name possibly with parameters, e.g.
      * `quantiles(0.5, 0.9)` — captured textually. */
    private def aggFnName(): String = {
      val n = ident()
      skipWs()
      if (!atEnd && peek == '(') {
        var depth = 0
        val start = pos
        do {
          if (s(pos) == '(') depth += 1
          if (s(pos) == ')') depth -= 1
          pos += 1
        } while (depth > 0 && pos < s.length)
        require(depth == 0, s"cannot parse ClickHouse type: unbalanced parens in $s")
        n + s.substring(start, pos)
      } else n
    }

    private def typeListOrEmpty(): Seq[CHType] = {
      skipWs()
      if (!atEnd && peek == ',') { pos += 1; typeList() } else Nil
    }
  }

  // ------------------------------------------------------- Spark mapping

  /** CH → Spark mapping per SURVEY.md §1.2 (reference: `ch_to_arrow_type`,
    * arrow/types.rs:366-479). Returns (dataType, nullable). Widenings:
    * UInt64→Decimal(20,0), Int128/UInt128→Decimal(38,0), 256-bit→Binary,
    * BFloat16→Float, DateTime64(9)→µs truncation (documented losses).
    */
  def toSpark(t: CHType): (DataType, Boolean) = t match {
    case Nullable(i) =>
      val (dt, _) = toSpark(i); (dt, true)
    case LowCardinality(i) => toSpark(i) // encoding, not a logical type in Spark
    case Int8 => (ByteType, false)
    case Int16 => (ShortType, false)
    case Int32 => (IntegerType, false)
    case Int64 => (LongType, false)
    case UInt8 => (ShortType, false)
    case UInt16 => (IntegerType, false)
    case UInt32 => (LongType, false)
    case UInt64 => (DecimalType(20, 0), false)
    case Int128 | UInt128 => (DecimalType(38, 0), false)
    case Int256 | UInt256 => (BinaryType, false)
    case Float32 | BFloat16 => (FloatType, false)
    case Float64 => (DoubleType, false)
    case Decimal(p, s) => (DecimalType(math.min(p, 38), math.min(s, 38)), false)
    case CHString => (StringType, false)
    case FixedString(_) => (BinaryType, false)
    case Uuid => (StringType, false) // canonical text form
    case Date | Date32 => (DateType, false)
    case DateTime(_) => (TimestampType, false)
    case DateTime64(_, _) => (TimestampType, false)
    case Time => (IntegerType, false) // seconds since midnight; Spark has no TimeType
    case Time64(_) => (LongType, false)
    case Ipv4 | Ipv6 => (StringType, false) // text forms
    case Enum8(_) | Enum16(_) => (StringType, false) // names; codes via metadata
    case Arr(i) =>
      val (dt, n) = toSpark(i); (ArrayType(dt, containsNull = n), false)
    case Tup(items, names) =>
      val fields = items.zipWithIndex.map { case (it, idx) =>
        val (dt, n) = toSpark(it)
        StructField(names.lift(idx).getOrElse(s"field_$idx"), dt, n)
      }
      (StructType(fields), false)
    case CHMap(k, v) =>
      val (kt, _) = toSpark(k)
      val (vt, vn) = toSpark(v)
      (MapType(kt, vt, valueContainsNull = vn), false)
    case Nested(fs) =>
      val fields = fs.map { case (n, it) =>
        val (dt, nn) = toSpark(it); StructField(n, dt, nn)
      }
      (ArrayType(StructType(fields), containsNull = false), false)
    case Point => (StructType(Seq(StructField("x", DoubleType, false), StructField("y", DoubleType, false))), false)
    case Ring | Polygon | MultiPolygon =>
      val (inner, _) = toSpark(geoInner(t)); (inner, false)
    case Json => (StringType, false) // JSON text (arrow/types.rs:400)
    case Variant(bs) =>
      // Spark has no union: struct of nullable branches + type tag
      val fields = StructField("variant_type", StringType, false) +:
        bs.zipWithIndex.map { case (b, i) =>
          val (dt, _) = toSpark(b); StructField(s"v$i", dt, true)
        }
      (StructType(fields), false)
    case Dynamic(_) => // observable reference behavior: stringified value + type name
      (StructType(Seq(
        StructField("value", StringType, true),
        StructField("type_name", StringType, false))), false)
    case AggregateFunction(_, _) => (BinaryType, false) // opaque state
    case SimpleAggregateFunction(_, args) =>
      toSpark(args.headOption.getOrElse(CHString))
  }

  private def geoInner(t: CHType): CHType = t match {
    case Ring => Arr(Point)
    case Polygon => Arr(Ring)
    case MultiPolygon => Arr(Polygon)
    case other => other
  }

  /** Spark→CH mapping knobs — the reference's remaining `ArrowOptions`
    * (`clickhouse-arrow/src/client/options.rs:284-290`), surfaced on the
    * write/DDL direction where they act (`arrow_to_ch_type`,
    * arrow/types.rs:205-347):
    *  - `useDate32ForDate`: DateType columns declare CH `Date32` (4-byte,
    *    wide range) instead of the default `Date` (u16 days) —
    *    types.rs:239;
    *  - `strictSchema`: error on ClickHouse invariant violations
    *    (Nullable over Tuple/Map/LowCardinality) instead of silently
    *    correcting them — options.rs `strict_schema`;
    *  - `nullableArrayDefaultEmpty` (default true, like the reference):
    *    a nullable Spark array column maps to plain `Array(...)` (nulls
    *    insert as `[]`); false errors on nullable arrays.
    *
    * Defaults preserve this engine's existing relaxed behavior, which
    * matches the reference's own defaults. */
  final case class MappingOptions(
      useDate32ForDate: Boolean = false,
      strictSchema: Boolean = false,
      nullableArrayDefaultEmpty: Boolean = true)

  object MappingOptions {
    val default: MappingOptions = MappingOptions()
  }

  /** Spark → CH canonical mapping (reference: `arrow_to_ch_type`,
    * arrow/types.rs:205-347). Inverse of `toSpark` on the canonical
    * subset. */
  def fromSpark(dt: DataType, nullable: Boolean,
      opts: MappingOptions = MappingOptions.default): CHType = {
    val base = dt match {
      case ByteType => Int8
      case ShortType => Int16
      case IntegerType => Int32
      case LongType => Int64
      case FloatType => Float32
      case DoubleType => Float64
      case BooleanType => UInt8 // Bool→UInt8 on write (arrow/types.rs:220)
      // NOTE: a bare Decimal(20,0) maps to Decimal(20,0), NOT UInt64 — a
      // signed Spark decimal can hold negatives a UInt64 column would
      // reject. UInt64 round-trips only through the field-metadata marker
      // set by toSparkField (the reference likewise only produces UInt64
      // from Arrow's genuinely-unsigned types, arrow/types.rs:377-380).
      case d: DecimalType => Decimal(d.precision, d.scale)
      case StringType => CHString
      case BinaryType => CHString // Binary ↔ String per strings_as_strings option
      case DateType => if (opts.useDate32ForDate) Date32 else Date
      case TimestampType => DateTime64(6, None) // µs precision
      case ArrayType(i, n) => Arr(fromSpark(i, n, opts))
      case st: StructType =>
        Tup(st.fields.map(f => fromSpark(f.dataType, f.nullable, opts)).toSeq,
          st.fields.map(_.name).toSeq)
      case MapType(k, v, vn) => CHMap(fromSpark(k, false, opts), fromSpark(v, vn, opts))
      case other => throw new IllegalArgumentException(s"no ClickHouse mapping for $other")
    }
    if (nullable && isNullableCompatible(base)) Nullable(base)
    else if (nullable) base match {
      // CH forbids Nullable over composites; what happens next is the
      // reference's ArrowOptions contract (options.rs:284-290)
      // the reference errors only when BOTH strict_schema is on AND the
      // empty-array default is off (arrow/types.rs:271-277, 417-420);
      // with strict off it maps relaxed regardless of the array option
      case Arr(_) if opts.strictSchema && !opts.nullableArrayDefaultEmpty =>
        throw new IllegalArgumentException(
          s"Nullable(Array) violates a ClickHouse invariant and " +
            "strictSchema=true with nullableArrayDefaultEmpty=false: declare " +
            "the column non-null or allow the empty-array default")
      case Arr(_) => base // nulls insert as [] — the reference default
      case _ if opts.strictSchema =>
        throw new IllegalArgumentException(
          s"Nullable(${format(base)}) violates a ClickHouse invariant " +
            "(strictSchema=true): composite types cannot be Nullable")
      case _ => base // relaxed: silently correct, like the reference default
    }
    else base
  }

  /** ClickHouse forbids Nullable over composite types (the reference
    * rejects Nullable(Array) in strict mode, arrow/types.rs:416-422). */
  def isNullableCompatible(t: CHType): Boolean = t match {
    case Arr(_) | Tup(_, _) | CHMap(_, _) | Nested(_) | LowCardinality(_) => false
    case _ => true
  }

  /** Reference normalization `Nullable(LowCardinality(T))` →
    * `LowCardinality(Nullable(T))` (arrow/types.rs:284-293), applied
    * recursively, plus geo alias expansion. */
  def normalize(t: CHType): CHType = t match {
    case Nullable(LowCardinality(i)) => LowCardinality(Nullable(normalize(i)))
    case Nullable(i) => Nullable(normalize(i))
    case LowCardinality(i) => LowCardinality(normalize(i))
    case Arr(i) => Arr(normalize(i))
    case Tup(is, ns) => Tup(is.map(normalize), ns)
    case CHMap(k, v) => CHMap(normalize(k), normalize(v))
    case Nested(fs) => Nested(fs.map { case (n, i) => n -> normalize(i) })
    case Ring => Arr(Point)
    case Polygon => Arr(Arr(Point))
    case MultiPolygon => Arr(Arr(Arr(Point)))
    case Variant(bs) => Variant(bs.map(normalize))
    case other => other
  }

  /** Field-metadata key marking a Spark column whose CH origin is an
    * unsigned type that widens into a signed Spark type ambiguously
    * (UInt64 → Decimal(20,0)). `fromSparkField` uses it to restore the
    * unsigned CH type; a bare Decimal(20,0) without the marker stays a
    * signed Decimal. */
  val UnsignedOriginKey = "graft.ch.unsigned"

  /** Field-level CH → Spark mapping: like [[toSpark]] but records the
    * unsigned-origin marker so the mapping round-trips at schema level. */
  def toSparkField(name: String, t: CHType): StructField = {
    val (dt, nullable) = toSpark(t)
    val unsigned = stripEncodings(t) match {
      case UInt64 => true
      case _ => false
    }
    // fixed-width binaries keep their width so the connector transports
    // them as Arrow FixedSizeBinary (reference arrow/types.rs:381-398)
    val fixedWidth = stripEncodings(t) match {
      case FixedString(n) => Some(n)
      case Int256 | UInt256 => Some(32)
      case _ => None
    }
    val md = (unsigned, fixedWidth) match {
      case (true, _) => new MetadataBuilder().putBoolean(UnsignedOriginKey, true).build()
      case (_, Some(w)) => new MetadataBuilder().putLong(graft.connector.ArrowCodec.FixedWidthKey, w.toLong).build()
      case _ => Metadata.empty
    }
    StructField(name, dt, nullable, md)
  }

  private def stripEncodings(t: CHType): CHType = t match {
    case Nullable(i) => stripEncodings(i)
    case LowCardinality(i) => stripEncodings(i)
    case other => other
  }

  /** Field-level Spark → CH mapping: [[fromSpark]] plus unsigned-origin
    * restoration from metadata (Decimal(20,0) marked unsigned → UInt64). */
  def fromSparkField(f: StructField,
      opts: MappingOptions = MappingOptions.default): CHType = {
    val unsigned =
      f.metadata.contains(UnsignedOriginKey) && f.metadata.getBoolean(UnsignedOriginKey)
    f.dataType match {
      case d: DecimalType if unsigned && d.precision == 20 && d.scale == 0 =>
        if (f.nullable) Nullable(UInt64) else UInt64
      case _ => fromSpark(f.dataType, f.nullable, opts)
    }
  }
}
