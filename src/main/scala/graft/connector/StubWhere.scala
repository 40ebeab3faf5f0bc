package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** WHERE-clause evaluator for [[StubCHServer]] — a real ClickHouse
  * evaluates pushed predicates server-side, so the offline stand-in must
  * too (the connector marks compilable filters as fully handled, exactly
  * like a JDBC source trusts its database). The grammar is precisely what
  * [[CHSql.compileFilter]] emits: backticked idents, numeric/string/
  * date/timestamp/hex literals, comparison ops, IN, IS [NOT] NULL, LIKE,
  * AND/OR/NOT with parens. Anything else fails loudly (HTTP 500), never
  * silently returns wrong rows.
  */
private[connector] object StubWhere {

  def compile(whereText: String, schema: StructType): InternalRow => Boolean = {
    val p = new Parser(whereText, schema)
    val e = p.parseExpr()
    p.expectEnd()
    e
  }

  /** Parse the SET list of an `ALTER TABLE … UPDATE` mutation
    * (``` `col` = <literal>, … ```) into a row rewriter. Same literal
    * grammar as WHERE; unparseable input fails loudly.
    */
  def compileAssignments(text: String, schema: StructType): InternalRow => InternalRow = {
    val p = new Parser(text, schema)
    val as = p.parseAssignments()
    p.expectEnd()
    val byIdx = as.toMap
    row => InternalRow.fromSeq(schema.indices.map { i =>
      byIdx.get(i) match {
        case Some(v) => v
        case None => if (row.isNullAt(i)) null else row.get(i, schema(i).dataType)
      }
    })
  }

  private final class Parser(s: String, schema: StructType) {
    private var pos = 0

    private def ws(): Unit = while (pos < s.length && s(pos).isWhitespace) pos += 1
    private def peek: Char = s(pos)
    private def atEnd: Boolean = { ws(); pos >= s.length }
    def expectEnd(): Unit =
      require(atEnd, s"stub WHERE parser: trailing input at $pos in: $s")

    private def kw(k: String): Boolean = {
      ws()
      if (s.regionMatches(true, pos, k, 0, k.length) &&
          (pos + k.length >= s.length || !s(pos + k.length).isLetterOrDigit)) {
        pos += k.length; true
      } else false
    }
    private def expect(c: Char): Unit = {
      ws(); require(pos < s.length && s(pos) == c, s"stub WHERE parser: expected '$c' at $pos in: $s")
      pos += 1
    }

    // expr := unary ((AND|OR) unary)*  — same precedence, left-assoc;
    // sound because CHSql parenthesizes all nested And/Or
    def parseExpr(): InternalRow => Boolean = {
      var acc = parseUnary()
      var cont = true
      while (cont) {
        if (kw("AND")) { val r = parseUnary(); val l = acc; acc = row => l(row) && r(row) }
        else if (kw("OR")) { val r = parseUnary(); val l = acc; acc = row => l(row) || r(row) }
        else cont = false
      }
      acc
    }

    private def parseUnary(): InternalRow => Boolean = {
      ws()
      if (kw("NOT")) { val e = parseUnary(); row => !e(row) }
      else if (peek == '(') { expect('('); val e = parseExpr(); expect(')'); e }
      else if (kw("1")) _ => true // unconditional mutation (`WHERE 1`)
      else parsePredicate()
    }

    /** The `q`-quoted token at `pos` ([[CHSql]] backslash-escapes its
      * quotes), unescaped. */
    private def quoted(q: Char, what: String): String = {
      ws()
      require(pos < s.length && s(pos) == q, s"stub WHERE parser: expected $what at $pos in: $s")
      val end = graft.functions.SqlLexer.tokenEnd(s, pos)
      val body = s.substring(pos + 1, end - 1)
      pos = end
      body.replaceAll("(?s)\\\\(.)", "$1")
    }

    private def parseIdent(): Int = schema.fieldIndex(quoted('`', "ident"))

    private def parseStringLit(): String = quoted('\'', "string")

    /** literal → comparable value normalized per column type */
    private def parseLiteral(): Any = {
      ws()
      if (kw("NULL")) null
      else if (peek == '\'') parseStringLit()
      else if (kw("toDate")) {
        expect('('); val d = parseStringLit(); expect(')')
        java.time.LocalDate.parse(d).toEpochDay // days, matches DateType ints
      } else if (kw("toDateTime64")) {
        expect('('); val t = parseStringLit(); expect(','); ws()
        while (pos < s.length && s(pos).isDigit) pos += 1
        expect(')')
        val inst = java.time.LocalDateTime.parse(t).toInstant(java.time.ZoneOffset.UTC)
        inst.getEpochSecond * 1000000L + inst.getNano / 1000L // micros
      } else if (kw("unhex")) {
        expect('('); val h = parseStringLit(); expect(')')
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toSeq
      } else {
        val start = pos
        while (pos < s.length && (s(pos).isDigit || "+-.eE".contains(s(pos)))) pos += 1
        require(pos > start, s"stub WHERE parser: expected literal at $start in: $s")
        BigDecimal(s.substring(start, pos))
      }
    }

    private def fieldValue(row: InternalRow, idx: Int): Any = {
      val f = schema.fields(idx)
      if (row.isNullAt(idx)) null
      else f.dataType match {
        case StringType => row.getUTF8String(idx).toString
        case BooleanType => if (row.getBoolean(idx)) BigDecimal(1) else BigDecimal(0)
        case ByteType => BigDecimal(row.getByte(idx).toInt)
        case ShortType => BigDecimal(row.getShort(idx).toInt)
        case IntegerType | DateType => BigDecimal(row.getInt(idx))
        case LongType | TimestampType | TimestampNTZType => BigDecimal(row.getLong(idx))
        case FloatType => BigDecimal(row.getFloat(idx).toDouble)
        case DoubleType => BigDecimal(row.getDouble(idx))
        case d: DecimalType => BigDecimal(row.getDecimal(idx, d.precision, d.scale).toJavaBigDecimal)
        case BinaryType => row.getBinary(idx).toSeq
        case other => throw new UnsupportedOperationException(s"stub WHERE on $other")
      }
    }

    /** normalize a parsed literal to the field's comparison domain */
    private def norm(lit: Any, idx: Int): Any = (lit, schema.fields(idx).dataType) match {
      case (null, _) => null
      case (d: Long, DateType) => BigDecimal(d) // toDate days
      case (m: Long, TimestampType | TimestampNTZType) => BigDecimal(m) // toDateTime64 micros
      case (n: BigDecimal, _) => n
      case (str: String, StringType) => str
      case (b: Seq[_], BinaryType) => b
      case (other, dt) => throw new UnsupportedOperationException(s"stub WHERE: $other vs $dt")
    }

    private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (null, _) | (_, null) => None
      case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
      case (x: String, y: String) => Some(x.compareTo(y))
      case (x: Seq[_], y: Seq[_]) => Some(
        x.asInstanceOf[Seq[Byte]].map(_ & 0xff).zipAll(y.asInstanceOf[Seq[Byte]].map(_ & 0xff), -1, -1)
          .collectFirst { case (l, r) if l != r => l - r }.getOrElse(0))
      case _ => throw new UnsupportedOperationException(s"stub WHERE cmp: $a vs $b")
    }

    private def likeRegex(pattern: String): java.util.regex.Pattern = {
      val sb = new StringBuilder
      var i = 0
      while (i < pattern.length) {
        pattern(i) match {
          case '\\' if i + 1 < pattern.length => sb ++= java.util.regex.Pattern.quote(pattern(i + 1).toString); i += 2
          case '%' => sb ++= ".*"; i += 1
          case '_' => sb += '.'; i += 1
          case c => sb ++= java.util.regex.Pattern.quote(c.toString); i += 1
        }
      }
      java.util.regex.Pattern.compile(sb.toString, java.util.regex.Pattern.DOTALL)
    }

    /** `ident = literal (, ident = literal)*` → (field index, stored value) */
    def parseAssignments(): Seq[(Int, Any)] = {
      val out = Seq.newBuilder[(Int, Any)]
      var cont = true
      while (cont) {
        val idx = parseIdent()
        ws(); require(pos < s.length && s(pos) == '=', s"expected '=' at $pos in: $s"); pos += 1
        out += idx -> toStored(parseLiteral(), idx)
        ws()
        if (pos < s.length && peek == ',') pos += 1 else cont = false
      }
      out.result()
    }

    /** Parsed literal → the value InternalRow stores for the field type. */
    private def toStored(lit: Any, idx: Int): Any = {
      val dt = schema.fields(idx).dataType
      (lit, dt) match {
        case (null, _) => null
        case (s: String, StringType) => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case (n: BigDecimal, BooleanType) => n != BigDecimal(0)
        case (n: BigDecimal, ByteType) => n.toByte
        case (n: BigDecimal, ShortType) => n.toShort
        case (n: BigDecimal, IntegerType) => n.toInt
        case (n: BigDecimal, LongType) => n.toLong
        case (n: BigDecimal, FloatType) => n.toFloat
        case (n: BigDecimal, DoubleType) => n.toDouble
        case (n: BigDecimal, d: DecimalType) =>
          org.apache.spark.sql.types.Decimal(n.underlying, d.precision, d.scale)
        case (d: Long, DateType) => d.toInt // toDate days
        case (m: Long, TimestampType | TimestampNTZType) => m // toDateTime64 micros
        case (b: Seq[_], BinaryType) => b.asInstanceOf[Seq[Byte]].toArray
        case (other, t) => throw new UnsupportedOperationException(s"stub UPDATE: $other as $t")
      }
    }

    private def parsePredicate(): InternalRow => Boolean = {
      val idx = parseIdent()
      ws()
      if (kw("IS")) {
        if (kw("NOT")) { require(kw("NULL"), "expected NULL"); row => !row.isNullAt(idx) }
        else { require(kw("NULL"), "expected NULL"); row => row.isNullAt(idx) }
      } else if (kw("IN")) {
        expect('(')
        val vals = scala.collection.mutable.ArrayBuffer[Any](norm(parseLiteral(), idx))
        while ({ ws(); pos < s.length && peek == ',' }) { pos += 1; vals += norm(parseLiteral(), idx) }
        expect(')')
        val set = vals.toSet
        row => { val v = fieldValue(row, idx); v != null && set.contains(v) }
      } else if (kw("LIKE")) {
        val re = likeRegex(parseStringLit())
        row => {
          val v = fieldValue(row, idx)
          v != null && re.matcher(v.asInstanceOf[String]).matches()
        }
      } else {
        def sym(o: String): Boolean = { ws(); if (s.startsWith(o, pos)) { pos += o.length; true } else false }
        val op =
          if (sym(">=")) ">=" else if (sym("<=")) "<=" else if (sym("=")) "="
          else if (sym(">")) ">" else if (sym("<")) "<"
          else throw new IllegalArgumentException(s"stub WHERE parser: op expected at $pos in: $s")
        val lit = norm(parseLiteral(), idx)
        row => cmp(fieldValue(row, idx), lit).exists { c =>
          op match {
            case "=" => c == 0
            case ">" => c > 0
            case ">=" => c >= 0
            case "<" => c < 0
            case "<=" => c <= 0
          }
        }
      }
    }
  }
}
