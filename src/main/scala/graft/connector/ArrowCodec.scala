package graft.connector

import java.io.{ByteArrayInputStream, FilterOutputStream, InputStream, OutputStream}
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.{BufferAllocator, RootAllocator}
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.MapVector
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Arrow IPC ⇄ Spark columnar codec — the Spark-native counterpart of the
  * reference's Arrow serde core (serializer `clickhouse-arrow/src/arrow/
  * block.rs:64-132`, deserializer `:202-361`, type tables
  * `src/arrow/types.rs:205-479`). The read side is zero-copy: Arrow
  * buffers wrap directly into Spark's `ArrowColumnVector`/`ColumnarBatch`
  * (the analogue of the reference's `bytemuck::cast_slice` bulk path,
  * `serialize/primitive.rs:61-120`).
  */
object ArrowCodec {

  /** One shared root allocator per JVM (executor); children per stream. */
  lazy val rootAllocator: BufferAllocator = new RootAllocator(Long.MaxValue)

  /** StructField metadata key marking a BinaryType column as fixed-width
    * on the wire: the column transports as Arrow `FixedSizeBinary(n)`
    * instead of VarBinary. This is how the reference wires the CH
    * fixed-width value types — UUID/IPv6/Int128/UInt128 as FSB(16),
    * Int256/UInt256 as FSB(32), IPv4 as FSB(4), FixedString(n) as FSB(n)
    * (`clickhouse-arrow/src/arrow/types.rs:381-398,414`). Values shorter
    * than `n` zero-pad on encode (CH FixedString semantics); longer
    * values truncate.
    */
  val FixedWidthKey = "ch.byteWidth"

  /** StructField metadata key marking a tagged struct (variant_type,
    * v0..vN) as a CH Variant: the value is the comma-joined CH type names
    * of the branches — the union child names on the wire. Attached on
    * scan, honored on write, so Variant columns round-trip. */
  val VariantTypesKey = "ch.variantTypes"

  /** Tag a BinaryType field's metadata for FSB transport. */
  def fixedWidthMetadata(n: Int): Metadata =
    new MetadataBuilder().putLong(FixedWidthKey, n.toLong).build()

  /** StructField metadata key carrying the declared CH type name when the
    * Arrow wire type alone is ambiguous: `BFloat16` (u16 raw bits vs a
    * plain UInt16), `Time`/`Time64(p)` (time-of-day vs plain ints),
    * `Dynamic` (dense union vs Variant). Travels as Arrow field metadata
    * in the IPC schema, so it survives server round trips. */
  val CHTypeKey = "ch.type"

  /** StructField metadata key preserving an Enum8/16 column's name↔code
    * map (`name=code,name=code`). The wire form is Dictionary(Int8/16,
    * Utf8) — reference `arrow/types.rs:471-474` — which the generic dict
    * decode surfaces as strings; this key keeps the declared codes so
    * `enumCode`-style expressions and DDL regeneration stay exact. */
  val EnumValuesKey = "ch.enumValues"

  // ---------------------------------------------------------- schema maps

  /** Spark → Arrow field mapping. Nested types recurse: `Array(T)` →
    * Arrow List (reference `arrow/serialize/list.rs`), `Map(K,V)` → Arrow
    * Map = List<Struct<key,value>> (`serialize/map.rs`), struct /
    * CH Tuple → Arrow Struct (`serialize/tuple.rs`).
    */
  def toArrowField(f: StructField): Field = {
    // `ch.*` Spark metadata rides the Arrow field metadata, so the wire
    // schema keeps the CH type identity (BFloat16/Time/Dynamic/Enum)
    val chMeta: java.util.Map[String, String] = {
      val m = new java.util.HashMap[String, String]()
      Seq(CHTypeKey, EnumValuesKey).foreach { k =>
        if (f.metadata.contains(k)) m.put(k, f.metadata.getString(k))
      }
      if (m.isEmpty) null else m
    }
    def flat(at: ArrowType): Field =
      new Field(f.name, new FieldType(f.nullable, at, null, chMeta), java.util.List.of[Field]())
    val declared =
      if (f.metadata.contains(CHTypeKey)) f.metadata.getString(CHTypeKey) else ""
    f.dataType match {
      // BFloat16 wires as u16 raw bits (reference `values.rs:105`; there
      // is no Arrow bf16 — HALF is IEEE fp16, a different format)
      case FloatType if declared == "BFloat16" => flat(new ArrowType.Int(16, false))
      // Time = seconds since midnight (values.rs:108); Time64(p) scaled
      case IntegerType if declared == "Time" =>
        flat(new ArrowType.Time(TimeUnit.SECOND, 32))
      case LongType if declared.startsWith("Time64") =>
        val unit = if (declared.contains("(9)")) TimeUnit.NANOSECOND else TimeUnit.MICROSECOND
        flat(new ArrowType.Time(unit, 64))
      // Dynamic writes back as stringified values (the reference's
      // observable read form, `tests/tests/new_types.rs:242-296`; CH
      // coerces string inserts into Dynamic server-side). Forced
      // nullable: the source struct inherits the Arrow union's
      // non-nullable convention, but a NULL dynamic stringifies to NULL
      case _: StructType if declared.startsWith("Dynamic") =>
        new Field(f.name,
          new FieldType(true, ArrowType.Utf8.INSTANCE, null, chMeta),
          java.util.List.of[Field]())
      case BooleanType => flat(ArrowType.Bool.INSTANCE)
      case ByteType => flat(new ArrowType.Int(8, true))
      case ShortType => flat(new ArrowType.Int(16, true))
      case IntegerType => flat(new ArrowType.Int(32, true))
      case LongType => flat(new ArrowType.Int(64, true))
      case FloatType => flat(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType => flat(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case StringType => flat(ArrowType.Utf8.INSTANCE)
      case BinaryType if f.metadata.contains(FixedWidthKey) =>
        flat(new ArrowType.FixedSizeBinary(f.metadata.getLong(FixedWidthKey).toInt))
      case BinaryType => flat(ArrowType.Binary.INSTANCE)
      case DateType => flat(new ArrowType.Date(DateUnit.DAY))
      case TimestampType => flat(new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
      case TimestampNTZType => flat(new ArrowType.Timestamp(TimeUnit.MICROSECOND, null))
      case d: DecimalType => flat(new ArrowType.Decimal(d.precision, d.scale, 128))
      case ArrayType(et, containsNull) =>
        new Field(f.name, new FieldType(f.nullable, ArrowType.List.INSTANCE, null),
          java.util.List.of(toArrowField(StructField("item", et, containsNull))))
      case st: StructType if f.metadata.contains(VariantTypesKey) =>
        // tagged struct → CH Variant dense union (child NAME = CH type
        // name, type code = branch index; reference arrow/types.rs:483)
        val names = f.metadata.getString(VariantTypesKey).split(",").toSeq
        require(names.length == st.fields.length - 1,
          s"${f.name}: ${names.length} variant type names for ${st.fields.length - 1} branches")
        val branches = st.fields.drop(1).zip(names).map { case (bf, nm) =>
          toArrowField(StructField(nm, bf.dataType, nullable = true))
        }
        new Field(f.name,
          new FieldType(f.nullable,
            new ArrowType.Union(org.apache.arrow.vector.types.UnionMode.Dense,
              branches.indices.toArray), null),
          branches.toList.asJava)
      case st: StructType =>
        new Field(f.name, new FieldType(f.nullable, ArrowType.Struct.INSTANCE, null),
          st.fields.map(toArrowField).toList.asJava)
      case MapType(kt, vt, valueContainsNull) =>
        val entries = new Field(MapVector.DATA_VECTOR_NAME,
          new FieldType(false, ArrowType.Struct.INSTANCE, null),
          java.util.List.of(
            toArrowField(StructField(MapVector.KEY_NAME, kt, nullable = false)),
            toArrowField(StructField(MapVector.VALUE_NAME, vt, valueContainsNull))))
        new Field(f.name, new FieldType(f.nullable, new ArrowType.Map(false), null),
          java.util.List.of(entries))
      case other =>
        throw new UnsupportedOperationException(s"connector does not transport $other yet")
    }
  }

  /** Arrow → Spark (the header-block direction: the server's schema is
    * authoritative, mirroring `client/reader.rs:58`). */
  def fromArrowField(f: Field): StructField = {
    val fieldMeta: Map[String, String] =
      Option(f.getMetadata).map(_.asScala.toMap).getOrElse(Map.empty)
    val declared = fieldMeta.getOrElse(CHTypeKey, "")
    val dt: DataType = f.getType match {
      case _: ArrowType.Bool => BooleanType
      // BFloat16 raw bits (u16 on the wire, `values.rs:105`): the reader
      // widens the bits to Float32, so the schema reads Float
      case i: ArrowType.Int if declared == "BFloat16" && i.getBitWidth == 16 => FloatType
      // time-of-day: Spark has no TIME type — Time surfaces as seconds
      // since midnight (Int), Time64 as the scaled count (Long), with
      // the declared CH type kept in metadata for DDL regeneration
      case t: ArrowType.Time => if (t.getBitWidth == 32) IntegerType else LongType
      // Dynamic (runtime-typed; dense union wire tagged ch.type=Dynamic):
      // the reference's observable read form is stringified values plus
      // type names (`tests/tests/new_types.rs:242-296`) — materialized
      // here as struct(dynamic_type, value)
      case u: ArrowType.Union if declared.startsWith("Dynamic") =>
        require(u.getMode == org.apache.arrow.vector.types.UnionMode.Dense,
          "connector transports Dense unions only")
        StructType(Seq(
          StructField("dynamic_type", StringType, nullable = true),
          StructField("value", StringType, nullable = true)))
      case i: ArrowType.Int if i.getIsSigned =>
        i.getBitWidth match {
          case 8 => ByteType
          case 16 => ShortType
          case 32 => IntegerType
          case 64 => LongType
        }
      case i: ArrowType.Int => // unsigned widens, like the reference's UInt map
        i.getBitWidth match {
          case 8 => ShortType
          case 16 => IntegerType
          case 32 => LongType
          case 64 => DecimalType(20, 0)
        }
      case fp: ArrowType.FloatingPoint =>
        if (fp.getPrecision == FloatingPointPrecision.SINGLE) FloatType else DoubleType
      case _: ArrowType.Utf8 => StringType
      case _: ArrowType.Binary => BinaryType
      // 64-bit-offset / view layout variants, normalized to the standard
      // types on ingest like the reference (`README.md:205-209`,
      // `src/arrow/types.rs:137` normalize_type): externally-built Arrow
      // data (polars, pyarrow large_* defaults) round-trips transparently
      case _: ArrowType.LargeUtf8 => StringType
      case _: ArrowType.LargeBinary => BinaryType
      case _: ArrowType.Utf8View => StringType
      case _: ArrowType.BinaryView => BinaryType
      case _: ArrowType.LargeList =>
        val elem = fromArrowField(f.getChildren.get(0))
        ArrayType(elem.dataType, elem.nullable)
      case _: ArrowType.Date => DateType
      case t: ArrowType.Timestamp => if (t.getTimezone == null) TimestampNTZType else TimestampType
      case d: ArrowType.Decimal => DecimalType(d.getPrecision, d.getScale)
      case _: ArrowType.Map => // Map = List<Struct<key,value>>
        val entries = f.getChildren.get(0)
        val kv = entries.getChildren.asScala
        MapType(fromArrowField(kv(0)).dataType, fromArrowField(kv(1)).dataType,
          kv(1).isNullable)
      case _: ArrowType.List =>
        val elem = fromArrowField(f.getChildren.get(0))
        ArrayType(elem.dataType, elem.nullable)
      case _: ArrowType.Struct =>
        StructType(f.getChildren.asScala.map(fromArrowField).toSeq)
      case _: ArrowType.FixedSizeBinary => BinaryType
      case u: ArrowType.Union =>
        // CH `Variant(...)` wire form (reference `arrow/types.rs:483-499`):
        // dense union, child NAME = the CH type name, type code = branch
        // index. Maps onto the §1.2 tagged struct (variant_type, v0..vN);
        // the scan reader materializes it as exactly that struct.
        require(u.getMode == org.apache.arrow.vector.types.UnionMode.Dense,
          "connector transports Dense unions (the CH Variant wire form) only")
        StructType(
          StructField("variant_type", StringType, nullable = false) +:
          f.getChildren.asScala.toSeq.zipWithIndex.map { case (c, i) =>
            StructField(s"v$i", fromArrowField(c).dataType, nullable = true)
          })
      case other =>
        throw new UnsupportedOperationException(s"connector does not transport arrow $other yet")
    }
    // FSB width / variant branch names / ch.* wire metadata survive the
    // round trip, so a scanned-then-rewritten column keeps its wire form
    val mb = new MetadataBuilder()
    fieldMeta.foreach { case (k, v) => if (k.startsWith("ch.")) mb.putString(k, v) }
    f.getType match {
      case fsb: ArrowType.FixedSizeBinary => mb.putLong(FixedWidthKey, fsb.getByteWidth.toLong)
      case _: ArrowType.Union if !declared.startsWith("Dynamic") =>
        mb.putString(VariantTypesKey,
          f.getChildren.asScala.map(_.getName).mkString(","))
      case _ => ()
    }
    StructField(f.getName, dt, f.isNullable, mb.build())
  }

  // ------------------------------------------------------------- encoding

  /** Writes value `j` of container `c` into slot `i` of one vector. A SAM
    * trait rather than a `(Int, SpecializedGetters, Int) => Unit` closure:
    * Function3 is not specialized, so the closure would box both indices
    * on every value. */
  private trait Setter { def apply(i: Int, c: SpecializedGetters, j: Int): Unit }

  /** Slot `i` of `v` := the bytes of `s`, copied straight from its backing
    * `byte[]`; `getBytes` (an extra copy) only when the string lives
    * off-heap. */
  private def setUtf8(v: BaseVariableWidthVector, i: Int, s: UTF8String): Unit =
    s.getBaseObject match {
      case a: Array[Byte] =>
        v.setSafe(i, a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => v.setSafe(i, s.getBytes)
    }

  private val DefaultBatchRows = 65536

  /** Streaming InternalRow → Arrow IPC encoder. Rows buffer into batches
    * of `maxRowsPerBatch` (the A9 batch-splitter equivalent,
    * `arrow/utils.rs:49`); everything is written to `out` and flushed once
    * at `finish()` (the reference's deferred-flush insert,
    * `client/internal.rs:482-535`). `out` stays open for the caller.
    *
    * Output column `j` reads input ordinal `ordinals(j)` (identity when
    * null), so a projection needs no per-row copy. A column with an entry
    * in `dictionaries` is written DICTIONARY-encoded — the
    * `LowCardinality(String)` wire form: Int32 indices into the given keys,
    * whose map values must be 0..n-1 in iteration order. Every value the
    * column holds must be a key: the dictionary goes out with the first
    * batch and cannot change afterwards (see [[encodeDict]]).
    */
  final class Encoder(
      schema: StructType,
      maxRowsPerBatch: Int,
      out: OutputStream,
      ordinals: Array[Int] = null,
      dictionaries: Map[Int, java.util.LinkedHashMap[UTF8String, Integer]] = Map.empty) {
    private val allocator =
      rootAllocator.newChildAllocator(s"graft-enc-${System.identityHashCode(this)}", 0, Long.MaxValue)
    private val provider = new DictionaryProvider.MapDictionaryProvider()
    private val root = VectorSchemaRoot.create(new ArrowSchema(
      schema.fields.toSeq.zipWithIndex.map { case (f, j) =>
        dictionaries.get(j).fold(toArrowField(f))(dictField(f, j, _))
      }.asJava), allocator)
    // the writer keeps copies of the dictionaries it sent and frees them
    // only in close(), which would also close `out`: give it a stream
    // whose close leaves `out` open
    private val writer = new ArrowStreamWriter(root, provider, new FilterOutputStream(out) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit = this.out.write(b, off, len)
      override def close(): Unit = ()
    })
    private val resetHooks = scala.collection.mutable.ListBuffer.empty[() => Unit]
    private val src: Array[Int] = if (ordinals == null) Array.range(0, schema.length) else ordinals
    private val setters: Array[Setter] =
      schema.fields.zipWithIndex.map { case (f, j) => setterFor(f, j, root.getVector(j)) }
    private var n = 0
    writer.start()

    /** Int32 index field over a dictionary of `keys`, registered with the
      * writer's provider under id `j`. */
    private def dictField(
        f: StructField, j: Int, keys: java.util.LinkedHashMap[UTF8String, Integer]): Field = {
      val encoding = new DictionaryEncoding(j.toLong, false, new ArrowType.Int(32, true))
      val dv = new VarCharVector(s"${f.name}_dict", allocator)
      dv.allocateNew(keys.size)
      var k = 0
      keys.keySet.forEach { s => setUtf8(dv, k, s); k += 1 }
      dv.setValueCount(keys.size)
      provider.put(new Dictionary(dv, encoding))
      new Field(f.name, new FieldType(f.nullable, new ArrowType.Int(32, true), encoding),
        java.util.List.of[Field]())
    }

    private def setNull(v: FieldVector, i: Int): Unit = v match {
      case b: BaseFixedWidthVector => b.setNull(i)
      case b: BaseVariableWidthVector => b.setNull(i)
      case l: org.apache.arrow.vector.complex.ListVector => l.setNull(i) // covers MapVector
      case s: org.apache.arrow.vector.complex.StructVector => s.setNull(i)
      case other => other.asInstanceOf[DecimalVector].setNull(i)
    }

    /** Recursive setter over SpecializedGetters so one code path serves
      * top-level rows, array elements, struct fields, and map entries —
      * the per-family dispatch of the reference's serializer modules
      * (`arrow/serialize/{primitive,binary,list,map,tuple}.rs`).
      */
    private def valueSetter(dt: DataType, v: FieldVector): Setter =
      dt match {
        case BooleanType => (i, c, j) => v.asInstanceOf[BitVector].setSafe(i, if (c.getBoolean(j)) 1 else 0)
        case ByteType => (i, c, j) => v.asInstanceOf[TinyIntVector].setSafe(i, c.getByte(j))
        case ShortType => (i, c, j) => v.asInstanceOf[SmallIntVector].setSafe(i, c.getShort(j))
        // time-of-day wire forms (CHTypeKey metadata routed the Arrow
        // schema to Time vectors; `values.rs:105-111`)
        case IntegerType if v.isInstanceOf[TimeSecVector] =>
          (i, c, j) => v.asInstanceOf[TimeSecVector].setSafe(i, c.getInt(j))
        case LongType if v.isInstanceOf[TimeMicroVector] =>
          (i, c, j) => v.asInstanceOf[TimeMicroVector].setSafe(i, c.getLong(j))
        case LongType if v.isInstanceOf[TimeNanoVector] =>
          (i, c, j) => v.asInstanceOf[TimeNanoVector].setSafe(i, c.getLong(j))
        // BFloat16: u16 raw bits = float bits >>> 16, truncation
        // (matching the round-5 toBFloat16 kernel and `values.rs:105`)
        case FloatType if v.isInstanceOf[UInt2Vector] =>
          (i, c, j) => v.asInstanceOf[UInt2Vector].setSafe(
            i, (java.lang.Float.floatToRawIntBits(c.getFloat(j)) >>> 16).toChar)
        // Dynamic (struct(dynamic_type, value)) writes its stringified
        // value — the server coerces strings into Dynamic
        case st: StructType if v.isInstanceOf[VarCharVector] =>
          val vc = v.asInstanceOf[VarCharVector]
          (i, c, j) => {
            val row = c.getStruct(j, st.size)
            if (row == null || row.isNullAt(1)) vc.setNull(i)
            else setUtf8(vc, i, row.getUTF8String(1))
          }
        case IntegerType => (i, c, j) => v.asInstanceOf[IntVector].setSafe(i, c.getInt(j))
        case LongType => (i, c, j) => v.asInstanceOf[BigIntVector].setSafe(i, c.getLong(j))
        case FloatType => (i, c, j) => v.asInstanceOf[Float4Vector].setSafe(i, c.getFloat(j))
        case DoubleType => (i, c, j) => v.asInstanceOf[Float8Vector].setSafe(i, c.getDouble(j))
        case StringType =>
          val vc = v.asInstanceOf[VarCharVector]
          (i, c, j) => setUtf8(vc, i, c.getUTF8String(j))
        case BinaryType => v match {
          // fixed-width wire form (FixedWidthKey metadata): zero-pad /
          // truncate to the declared width, CH FixedString semantics
          case fsb: FixedSizeBinaryVector =>
            val w = fsb.getByteWidth
            (i, c, j) => {
              val b = c.getBinary(j)
              fsb.setSafe(i, if (b.length == w) b else java.util.Arrays.copyOf(b, w))
            }
          case _ => (i, c, j) => v.asInstanceOf[VarBinaryVector].setSafe(i, c.getBinary(j))
        }
        case DateType => (i, c, j) => v.asInstanceOf[DateDayVector].setSafe(i, c.getInt(j))
        case TimestampType => (i, c, j) => v.asInstanceOf[TimeStampMicroTZVector].setSafe(i, c.getLong(j))
        case TimestampNTZType => (i, c, j) => v.asInstanceOf[TimeStampMicroVector].setSafe(i, c.getLong(j))
        case d: DecimalType => (i, c, j) =>
          v.asInstanceOf[DecimalVector].setSafe(i, c.getDecimal(j, d.precision, d.scale).toJavaBigDecimal)
        case ArrayType(et, _) =>
          val lv = v.asInstanceOf[org.apache.arrow.vector.complex.ListVector]
          val elem = valueSetter(et, lv.getDataVector.asInstanceOf[FieldVector])
          (i, c, j) => {
            val arr = c.getArray(j)
            val off = lv.startNewValue(i)
            var k = 0
            while (k < arr.numElements()) {
              if (arr.isNullAt(k)) setNull(lv.getDataVector.asInstanceOf[FieldVector], off + k)
              else elem(off + k, arr, k)
              k += 1
            }
            lv.endValue(i, arr.numElements())
          }
        // tagged-struct Variant writing into the dense-union wire form:
        // the branch is the single non-null v<k> (a null variant rides
        // branch 0 with a null slot). Per-branch offset counters reset
        // with each batch via onBatchReset.
        case st: StructType if v.isInstanceOf[org.apache.arrow.vector.complex.DenseUnionVector] =>
          val duv = v.asInstanceOf[org.apache.arrow.vector.complex.DenseUnionVector]
          val nBranches = st.fields.length - 1
          val branchVecs = (0 until nBranches).map(k =>
            duv.getVectorByType(k.toByte).asInstanceOf[FieldVector])
          val branchSets = st.fields.drop(1).zipWithIndex.map { case (bf, k) =>
            valueSetter(bf.dataType, branchVecs(k))
          }
          val counters = new Array[Int](nBranches)
          resetHooks += (() => java.util.Arrays.fill(counters, 0))
          (i, c, j) => {
            // a NULL top-level variant takes the same encoding as a tagged
            // struct with no live branch: tag 0, null slot on branch 0
            val row = if (c.isNullAt(j)) null else c.getStruct(j, st.size)
            var k = 0; var branch = -1
            while (row != null && k < nBranches && branch < 0) {
              if (!row.isNullAt(k + 1)) branch = k
              k += 1
            }
            val tag = if (branch >= 0) branch else 0
            while (duv.getValueCapacity <= i) duv.reAlloc() // raw buffer writes don't auto-grow
            duv.setTypeId(i, tag.toByte)
            duv.getOffsetBuffer.setInt(i.toLong * 4, counters(tag))
            if (branch >= 0) branchSets(tag)(counters(tag), row, tag + 1)
            else setNull(branchVecs(0), counters(0))
            counters(tag) += 1
          }
        case st: StructType =>
          val sv = v.asInstanceOf[org.apache.arrow.vector.complex.StructVector]
          val children = st.fields.zipWithIndex.map { case (f, k) =>
            val child = sv.getChildByOrdinal(k).asInstanceOf[FieldVector]
            (valueSetter(f.dataType, child), child)
          }
          (i, c, j) => {
            val row = c.getStruct(j, st.size)
            sv.setIndexDefined(i)
            var k = 0
            while (k < children.length) {
              val (set, child) = children(k)
              if (row.isNullAt(k)) setNull(child, i) else set(i, row, k)
              k += 1
            }
          }
        case MapType(kt, vt, _) =>
          val mv = v.asInstanceOf[MapVector]
          val entries = mv.getDataVector.asInstanceOf[org.apache.arrow.vector.complex.StructVector]
          val keyChild = entries.getChildByOrdinal(0).asInstanceOf[FieldVector]
          val valChild = entries.getChildByOrdinal(1).asInstanceOf[FieldVector]
          val keySet = valueSetter(kt, keyChild)
          val valSet = valueSetter(vt, valChild)
          (i, c, j) => {
            val m = c.getMap(j)
            val keys = m.keyArray(); val vals = m.valueArray()
            val off = mv.startNewValue(i)
            var k = 0
            while (k < m.numElements()) {
              entries.setIndexDefined(off + k)
              keySet(off + k, keys, k)
              if (vals.isNullAt(k)) setNull(valChild, off + k) else valSet(off + k, vals, k)
              k += 1
            }
            mv.endValue(i, m.numElements())
          }
        case other => throw new UnsupportedOperationException(other.toString)
      }

    private def setterFor(f: StructField, j: Int, v: FieldVector): Setter = {
      val set: Setter = dictionaries.get(j) match {
        case Some(keys) =>
          val iv = v.asInstanceOf[IntVector]
          (i, c, k) => iv.setSafe(i, keys.get(c.getUTF8String(k)).intValue)
        case None => valueSetter(f.dataType, v)
      }
      v match {
        // dense-union (Variant) nulls need the per-branch offset counters
        // that live inside the value setter, so nulls route through it
        // (it writes tag 0 + a null slot on branch 0) instead of setNull
        case _: org.apache.arrow.vector.complex.DenseUnionVector => set
        case _ => (i, c, k) => if (c.isNullAt(k)) setNull(v, i) else set(i, c, k)
      }
    }

    def write(row: InternalRow): Unit = {
      var j = 0
      while (j < setters.length) { setters(j)(n, row, src(j)); j += 1 }
      n += 1
      if (n >= maxRowsPerBatch) flushBatch()
    }

    private def flushBatch(): Unit = if (n > 0) {
      root.setRowCount(n)
      writer.writeBatch()
      root.allocateNew()
      resetHooks.foreach(_())
      n = 0
    }

    /** Write any buffered rows, the end-of-stream marker, and release. */
    def finish(): Unit = {
      flushBatch()
      writer.close() // before the root and dictionaries it references
      root.close()
      provider.close()
      allocator.close()
    }
  }

  /** Encode a fully-materialized row seq as one IPC stream (test/server
    * helper; the write path streams through [[Encoder]] directly). */
  def encode(schema: StructType, rows: Iterator[InternalRow]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val enc = new Encoder(schema, DefaultBatchRows, bos)
    rows.foreach(enc.write)
    enc.finish()
    bos.toByteArray
  }

  /** Encode with the named String columns DICTIONARY-encoded — the wire
    * form of `LowCardinality(String)` (A5; reference
    * `arrow/serialize/low_cardinality.rs:1-60`: per-block dict + keys).
    * A first pass collects each such column's keys in first-appearance
    * order, each key cloned (the rows may share one reused buffer); then
    * the rows stream through [[Encoder]] in its dictionary mode, which
    * writes every other column as it always does. Named columns that are
    * not String encode plain. `ordinals` as for [[Encoder]].
    *
    * One dictionary per stream: the Arrow Java stream reader has no
    * dictionary-replacement support, so the keys must be known before the
    * first batch — which is why this takes bounded input (server
    * responses, client-side batch inserts) while the unbounded streaming
    * insert stays plain. [[BatchReader]] decodes it transparently.
    */
  def encodeDict(
      schema: StructType,
      rows: Seq[InternalRow],
      dictCols: Set[String],
      ordinals: Array[Int] = null): Array[Byte] = {
    val dictionaries = schema.fields.indices.collect {
      case j if dictCols(schema(j).name) && schema(j).dataType == StringType =>
        val k = if (ordinals == null) j else ordinals(j)
        val keys = new java.util.LinkedHashMap[UTF8String, Integer]()
        rows.foreach { r =>
          if (!r.isNullAt(k)) {
            val s = r.getUTF8String(k)
            if (!keys.containsKey(s)) keys.put(s.clone(), keys.size)
          }
        }
        j -> keys
    }.toMap
    val bos = new java.io.ByteArrayOutputStream()
    val enc = new Encoder(schema, DefaultBatchRows, bos, ordinals, dictionaries)
    rows.foreach(enc.write)
    enc.finish()
    bos.toByteArray
  }

  // ------------------------------------------------------------- decoding

  /** Read just the schema from an IPC stream (the header-block probe). */
  def readSchema(bytes: Array[Byte]): StructType = {
    val br = new BatchReader(new ByteArrayInputStream(bytes))
    try br.sparkSchema
    finally br.close()
  }

  /** Decode an IPC stream into materialized InternalRows (server/test
    * helper; the connector scan path stays zero-copy via [[BatchReader]]). */
  def decode(bytes: Array[Byte]): (StructType, Seq[InternalRow]) = {
    val br = new BatchReader(new ByteArrayInputStream(bytes))
    try {
      val schema = br.sparkSchema
      // materialize through an UnsafeProjection, not ColumnarBatchRow.copy:
      // the latter's primitive-array fast path reads null list elements
      // without an isNullAt check and Arrow then throws
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      val out = Seq.newBuilder[InternalRow]
      while (br.next()) br.get().rowIterator().asScala.foreach(r => out += proj(r).copy())
      (schema, out.result())
    } finally br.close()
  }

  /** Zero-copy streaming reader: each Arrow record batch surfaces as one
    * Spark `ColumnarBatch` whose vectors wrap the Arrow buffers directly
    * (A2's block→batch deserializer, without the copy).
    *
    * Dictionary-encoded vectors (the wire form of `LowCardinality(T)`,
    * reference `arrow/deserialize/low_cardinality.rs`) are decoded to
    * plain values on arrival — SURVEY §1.2: dictionary is an encoding,
    * not a logical type in Spark; parquet re-dictionarizes on write
    * anyway. Decoded vectors are owned by this reader and released with
    * the batch.
    */
  final class BatchReader(
      in: InputStream,
      conv: ReadConversions.Spec = ReadConversions.none) extends AutoCloseable {
    private val allocator =
      rootAllocator.newChildAllocator(s"graft-read-${System.identityHashCode(this)}", 0, Long.MaxValue)
    private val reader = new ArrowStreamReader(in, allocator)
    private var current: ColumnarBatch = _
    private var decoded: List[FieldVector] = Nil

    /** Spark schema with dictionary fields resolved to their VALUE type
      * (the IPC schema carries the index type for encoded columns). */
    def sparkSchema: StructType = StructType(
      reader.getVectorSchemaRoot.getSchema.getFields.asScala.map { f =>
        val enc = f.getDictionary
        if (enc == null) fromArrowField(f)
        else {
          val valueField = reader.getDictionaryVectors.get(enc.getId).getVector.getField
          // `ch.*` metadata (Enum8/16 name↔code map, declared type) rides
          // the INDEX field; keep it on the decoded string column so the
          // enum expressions and DDL regeneration stay exact
          val mb = new MetadataBuilder()
          Option(f.getMetadata).foreach(_.asScala.foreach { case (k, vv) =>
            if (k.startsWith("ch.")) mb.putString(k, vv)
          })
          StructField(f.getName, fromArrowField(valueField).dataType, f.isNullable, mb.build())
        }
      }.toSeq)

    /** Unsigned Arrow ints — the wire form of ClickHouse UInt8/16/32/64
      * (reference `arrow/types.rs` UInt map) — are copied into the widened
      * signed vector their schema maps to: Spark's `ArrowColumnVector` has
      * no UInt accessors, so wrapping the raw vector would throw on first
      * read. Owned by this reader, released with the batch (same pattern
      * as dictionary decode).
      */
    /** tid → child index for a union vector: Arrow permits arbitrary
      * (non-identity) union discriminators, so child names/branches must
      * be looked up through the field's typeIds array, never positionally
      * (the stub happens to use 0..n-1; a real server need not). */
    private def unionTypeIdMap(
        duv: org.apache.arrow.vector.complex.DenseUnionVector,
        nChildren: Int): Map[Int, Int] = {
      val ids = duv.getField.getType match {
        case u: org.apache.arrow.vector.types.pojo.ArrowType.Union
            if u.getTypeIds != null && u.getTypeIds.nonEmpty =>
          u.getTypeIds.toSeq.map(_.toInt)
        case _ => (0 until nChildren).toSeq
      }
      ids.zipWithIndex.toMap
    }

    private def widenUnsigned(v: FieldVector): FieldVector = {
      val n = v.getValueCount
      def fill[T <: BaseFixedWidthVector](out: T)(set: Int => Unit): T = {
        out.allocateNew(n)
        var i = 0
        while (i < n) { if (!v.isNull(i)) set(i); i += 1 }
        out.setValueCount(n)
        decoded ::= out
        out
      }
      val declared = Option(v.getField.getMetadata)
        .flatMap(m => Option(m.get(CHTypeKey))).getOrElse("")
      v match {
        case u: UInt1Vector =>
          val out = new SmallIntVector(v.getName, allocator)
          fill(out)(i => out.set(i, (u.get(i) & 0xff).toShort))
        // BFloat16 raw bits: widen u16 → Float32 by shifting the bits
        // into the high half (`values.rs:105`; exact, no rounding)
        case u: UInt2Vector if declared == "BFloat16" =>
          val out = new Float4Vector(v.getName, allocator)
          fill(out)(i => out.set(i,
            java.lang.Float.intBitsToFloat((u.get(i) & 0xffff) << 16)))
        case u: UInt2Vector =>
          val out = new IntVector(v.getName, allocator)
          fill(out)(i => out.set(i, u.get(i).toInt))
        // time-of-day vectors: Spark's ArrowColumnVector has no Time
        // accessors — copy into the plain int/long vector the schema
        // maps to (seconds for Time, scaled count for Time64)
        case t: TimeSecVector =>
          val out = new IntVector(v.getName, allocator)
          fill(out)(i => out.set(i, t.get(i)))
        case t: TimeMilliVector =>
          val out = new IntVector(v.getName, allocator)
          fill(out)(i => out.set(i, t.get(i)))
        case t: TimeMicroVector =>
          val out = new BigIntVector(v.getName, allocator)
          fill(out)(i => out.set(i, t.get(i)))
        case t: TimeNanoVector =>
          val out = new BigIntVector(v.getName, allocator)
          fill(out)(i => out.set(i, t.get(i)))
        case u: UInt4Vector =>
          val out = new BigIntVector(v.getName, allocator)
          fill(out)(i => out.set(i, u.get(i) & 0xffffffffL))
        case u: UInt8Vector =>
          val out = new DecimalVector(v.getName, allocator, 20, 0)
          fill(out)(i => out.setSafe(i,
            new java.math.BigDecimal(java.lang.Long.toUnsignedString(u.get(i)))))
        // 64-bit-offset / view layouts, normalized to the standard
        // vectors like the reference's ingest `normalize_type`
        // (`src/arrow/types.rs:137`): Spark's ArrowColumnVector reads
        // LargeVarChar/LargeVarBinary natively but has no accessor for
        // the view vectors or LargeList.
        case vv: ViewVarCharVector =>
          val out = new VarCharVector(v.getName, allocator)
          out.allocateNew()
          var i = 0
          while (i < n) { if (!vv.isNull(i)) out.setSafe(i, vv.get(i)); i += 1 }
          out.setValueCount(n)
          decoded ::= out
          out
        case vv: ViewVarBinaryVector =>
          val out = new VarBinaryVector(v.getName, allocator)
          out.allocateNew()
          var i = 0
          while (i < n) { if (!vv.isNull(i)) out.setSafe(i, vv.get(i)); i += 1 }
          out.setValueCount(n)
          decoded ::= out
          out
        case ll: org.apache.arrow.vector.complex.LargeListVector =>
          val out = org.apache.arrow.vector.complex.ListVector.empty(v.getName, allocator)
          out.allocateNew()
          val rd = ll.getReader
          val wr = out.getWriter
          var i = 0
          while (i < n) {
            rd.setPosition(i)
            wr.setPosition(i)
            org.apache.arrow.vector.complex.impl.ComplexCopier.copy(rd, wr)
            i += 1
          }
          out.setValueCount(n)
          decoded ::= out
          out
        // FixedSizeBinary (the wire form of UUID/IPv6/FixedString/
        // Int128/256, reference `arrow/types.rs:381-398`): Spark's
        // `ArrowColumnVector` has no FSB accessor, so copy into a
        // VarBinary the BinaryAccessor can read. The schema keeps the
        // width in FixedWidthKey metadata.
        case fsb: FixedSizeBinaryVector =>
          val out = new VarBinaryVector(v.getName, allocator)
          out.allocateNew()
          var i = 0
          while (i < n) { if (!fsb.isNull(i)) out.setSafe(i, fsb.get(i)); i += 1 }
          out.setValueCount(n)
          decoded ::= out
          out
        // CH Dynamic (dense union tagged ch.type=Dynamic): the
        // reference's observable read form is STRINGIFIED values plus
        // the type name (`tests/tests/new_types.rs:242-296`) —
        // materialize struct(dynamic_type, value) with both as Utf8.
        case duv: org.apache.arrow.vector.complex.DenseUnionVector
            if declared.startsWith("Dynamic") =>
          import org.apache.arrow.vector.complex.StructVector
          import org.apache.arrow.vector.types.pojo.{ArrowType => AT, FieldType}
          val struct = StructVector.empty(v.getName, allocator)
          val tag = struct.addOrGet("dynamic_type",
            FieldType.nullable(AT.Utf8.INSTANCE), classOf[VarCharVector])
          val value = struct.addOrGet("value",
            FieldType.nullable(AT.Utf8.INSTANCE), classOf[VarCharVector])
          struct.allocateNew()
          val children = duv.getField.getChildren.asScala.toSeq
          // union typeIds need not be the identity 0..n-1 (Arrow allows
          // arbitrary discriminators) — index children THROUGH the map
          val childIdxByTid = unionTypeIdMap(duv, children.length)
          val nameBytes: IndexedSeq[Array[Byte]] =
            children.map(_.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toIndexedSeq
          var i = 0
          while (i < n) {
            val tid = duv.getTypeId(i)
            if (tid >= 0) {
              val childVec = duv.getVectorByType(tid)
              val off = duv.getOffset(i)
              struct.setIndexDefined(i)
              if (childVec != null && !childVec.isNull(off)) {
                tag.setSafe(i, nameBytes(childIdxByTid(tid)))
                value.setSafe(i, String.valueOf(childVec.getObject(off))
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              } // NULL dynamic: both fields stay null (dynamicType = NULL in CH)
            }
            i += 1
          }
          struct.setValueCount(n)
          decoded ::= struct
          struct
        // CH Variant (dense union, reference `arrow/types.rs:483-499`):
        // Spark's ArrowColumnVector has no union accessor, so materialize
        // the §1.2 tagged struct — variant_type carries the branch's CH
        // type name (= the union child's field name), v<i> the value.
        case duv: org.apache.arrow.vector.complex.DenseUnionVector =>
          import org.apache.arrow.vector.complex.StructVector
          import org.apache.arrow.vector.types.pojo.{ArrowType => AT, FieldType}
          val struct = StructVector.empty(v.getName, allocator)
          val tag = struct.addOrGet("variant_type",
            FieldType.notNullable(AT.Utf8.INSTANCE), classOf[VarCharVector])
          val children = duv.getField.getChildren.asScala.toSeq
          val branches = children.zipWithIndex.map { case (cf, i) =>
            struct.addOrGet(s"v$i", cf.getFieldType, classOf[FieldVector])
          }
          struct.allocateNew()
          val tagBytes: IndexedSeq[Array[Byte]] =
            children.map(_.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toIndexedSeq
          val childIdxByTid = unionTypeIdMap(duv, children.length)
          var i = 0
          while (i < n) {
            val tid = duv.getTypeId(i)
            if (tid >= 0) {
              val ci = childIdxByTid(tid)
              val childVec = duv.getVectorByType(tid)
              val off = duv.getOffset(i)
              if (childVec != null && !childVec.isNull(off))
                branches(ci).copyFromSafe(off, i, childVec)
              tag.setSafe(i, tagBytes(ci))
              struct.setIndexDefined(i)
            }
            i += 1
          }
          struct.setValueCount(n)
          decoded ::= struct
          struct
        case other => other
      }
    }

    /** Read-path [[ReadConversions]] (the reference's query-time
      * `SchemaConversions`/`ArrowOptions`): enum-target validation and
      * the strings-as-binary mode, applied AFTER dictionary decode and
      * unsigned widening so the vector is already in its plain form. */
    private def convertForRead(v: FieldVector): FieldVector = {
      if (conv.isNoop) return v
      import graft.types.CHType
      val declared = Option(v.getField.getMetadata)
        .flatMap(m => Option(m.get(CHTypeKey))).getOrElse("")
      conv.parsed.get(v.getName.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(CHType.Enum8(vs)) => validateEnum(v, vs, "Enum8")
        case Some(CHType.Enum16(vs)) => validateEnum(v, vs, "Enum16")
        case Some(CHType.Date) | Some(CHType.Date32) => v match {
          case _: DateDayVector | _: DateMilliVector => v
          case other => throw new IllegalArgumentException(
            s"graft-ch: schema.${v.getName}: expected Date or Date32 on " +
              s"the wire, found ${other.getField.getType}")
        }
        // geo targets: shape fixed at schema time; the wire struct/list
        // already matches (reference preserves geo, types.rs:111-114)
        case Some(_) => v
        case None => v match {
          case vc: VarCharVector if !conv.stringsAsStrings &&
              ReadConversions.isPlainString(StringType, declared) =>
            val out = new VarBinaryVector(v.getName, allocator)
            out.allocateNew()
            val n = vc.getValueCount
            var i = 0
            while (i < n) { if (!vc.isNull(i)) out.setSafe(i, vc.get(i)); i += 1 }
            out.setValueCount(n)
            decoded ::= out
            out
          case _ => v
        }
      }
    }

    /** Every non-null value must be a declared enum name — an unknown
      * element fails the scan loudly, like CH's Enum insert/convert
      * error (reference convert_to_enum, arrow/types.rs:40-68). */
    private def validateEnum(
        v: FieldVector, values: Seq[(String, Int)], kind: String): FieldVector = v match {
      case vc: VarCharVector =>
        val names = values.map(_._1).toSet
        val n = vc.getValueCount
        var i = 0
        while (i < n) {
          if (!vc.isNull(i)) {
            val s = new String(vc.get(i), java.nio.charset.StandardCharsets.UTF_8)
            if (!names.contains(s)) throw new IllegalArgumentException(
              s"graft-ch: schema.${v.getName}: unknown element '$s' for " +
                s"$kind(${values.map { case (nm, c) => s"'$nm'=$c" }.mkString(",")})")
          }
          i += 1
        }
        vc
      case other => throw new IllegalArgumentException(
        s"graft-ch: schema.${v.getName}: expected LowCardinality(String) " +
          s"or String/Binary on the wire, found ${other.getField.getType}")
    }

    def next(): Boolean =
      if (reader.loadNextBatch()) {
        decoded.foreach(_.close())
        decoded = Nil
        val root = reader.getVectorSchemaRoot
        val cols = root.getFieldVectors.asScala.map { v =>
          val dictEnc = v.getField.getDictionary
          val plain =
            if (dictEnc == null) v
            else {
              val dict = reader.getDictionaryVectors.get(dictEnc.getId)
              val dv = org.apache.arrow.vector.dictionary.DictionaryEncoder
                .decode(v, dict).asInstanceOf[FieldVector]
              decoded ::= dv
              dv
            }
          new ArrowColumnVector(convertForRead(widenUnsigned(plain)))
        }.toArray[org.apache.spark.sql.vectorized.ColumnVector]
        current = new ColumnarBatch(cols, root.getRowCount)
        true
      } else false

    def get(): ColumnarBatch = current

    override def close(): Unit = {
      decoded.foreach(_.close())
      reader.close()
      allocator.close()
    }
  }
}
