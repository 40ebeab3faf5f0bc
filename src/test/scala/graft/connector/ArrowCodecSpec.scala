package graft.connector

import java.io.ByteArrayOutputStream
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.arrow.vector.{FieldVector, IntVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

class ArrowCodecSpec extends SparkSpec {

  test("A5: dictionary-encoded (LowCardinality wire form) columns decode to plain values") {
    val allocator = ArrowCodec.rootAllocator.newChildAllocator("dict-test", 0, Long.MaxValue)
    val dictVector = new VarCharVector("dict", allocator)
    dictVector.allocateNew()
    dictVector.setSafe(0, "low".getBytes)
    dictVector.setSafe(1, "high".getBytes)
    dictVector.setValueCount(2)
    val encoding = new DictionaryEncoding(1L, false, new ArrowType.Int(32, true))
    val dictionary = new Dictionary(dictVector, encoding)

    val indexField = new Field("lvl",
      new FieldType(true, new ArrowType.Int(32, true), encoding), java.util.List.of[Field]())
    val indices = indexField.createVector(allocator).asInstanceOf[IntVector]
    indices.allocateNew()
    Seq(0, 1, 0, 1, 1).zipWithIndex.foreach { case (v, i) => indices.setSafe(i, v) }
    indices.setValueCount(5)

    val root = new VectorSchemaRoot(
      List(indexField).asJava, List[FieldVector](indices).asJava, 5)
    val provider = new DictionaryProvider.MapDictionaryProvider(dictionary)
    val bos = new ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root, provider, bos)
    writer.start(); writer.writeBatch(); writer.end(); writer.close()
    root.close(); dictVector.close()
    allocator.close()

    val (schema, rows) = ArrowCodec.decode(bos.toByteArray)
    // index type int32 resolves to the dictionary's VALUE type
    assert(schema === StructType(Seq(StructField("lvl", StringType, nullable = true))))
    assert(rows.map(_.getUTF8String(0).toString) === Seq("low", "high", "low", "high", "high"))
  }

  test("unsigned Arrow ints (CH UInt8/16/32/64 wire form) widen to signed vectors in the scan path") {
    import org.apache.arrow.vector.{UInt1Vector, UInt2Vector, UInt4Vector, UInt8Vector}
    val allocator = ArrowCodec.rootAllocator.newChildAllocator("uint-test", 0, Long.MaxValue)
    def uintField(name: String, bits: Int) = new Field(name,
      new FieldType(true, new ArrowType.Int(bits, false), null), java.util.List.of[Field]())
    val f1 = uintField("u8", 8); val f2 = uintField("u16", 16)
    val f4 = uintField("u32", 32); val f8 = uintField("u64", 64)
    val v1 = f1.createVector(allocator).asInstanceOf[UInt1Vector]
    val v2 = f2.createVector(allocator).asInstanceOf[UInt2Vector]
    val v4 = f4.createVector(allocator).asInstanceOf[UInt4Vector]
    val v8 = f8.createVector(allocator).asInstanceOf[UInt8Vector]
    Seq(v1, v2, v4, v8).foreach(_.allocateNew())
    // row 0: max unsigned values (the cases a signed read would corrupt); row 1: nulls; row 2: small
    v1.setSafe(0, 255); v2.setSafe(0, 65535); v4.setSafe(0, -1 /* = 4294967295 */)
    v8.setSafe(0, -1L /* = 18446744073709551615 */)
    v1.setNull(1); v2.setNull(1); v4.setNull(1); v8.setNull(1)
    v1.setSafe(2, 7); v2.setSafe(2, 7); v4.setSafe(2, 7); v8.setSafe(2, 7L)
    Seq(v1, v2, v4, v8).foreach(_.setValueCount(3))
    val root = new VectorSchemaRoot(
      List(f1, f2, f4, f8).asJava, List[FieldVector](v1, v2, v4, v8).asJava, 3)
    val bos = new ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root, null, bos)
    writer.start(); writer.writeBatch(); writer.end(); writer.close()
    root.close(); allocator.close()

    val (schema, rows) = ArrowCodec.decode(bos.toByteArray)
    import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, ShortType}
    assert(schema.fields.map(_.dataType).toSeq ===
      Seq(ShortType, IntegerType, LongType, DecimalType(20, 0)))
    assert(rows(0).getShort(0) === 255.toShort)
    assert(rows(0).getInt(1) === 65535)
    assert(rows(0).getLong(2) === 4294967295L)
    assert(rows(0).getDecimal(3, 20, 0).toString === "18446744073709551615")
    assert((0 until 4).forall(rows(1).isNullAt))
    assert(rows(2).getShort(0) === 7.toShort && rows(2).getInt(1) === 7 &&
      rows(2).getLong(2) === 7L && rows(2).getDecimal(3, 20, 0).toString === "7")
  }

  test("Large/View layouts normalize to the standard types on ingest") {
    // the reference's ingest normalization (README.md:205-209,
    // src/arrow/types.rs:137): LargeUtf8 / LargeBinary / LargeList /
    // Utf8View data built by external producers round-trips as the
    // standard Spark string / binary / array types
    import org.apache.arrow.vector.{LargeVarBinaryVector, LargeVarCharVector, ViewVarCharVector}
    import org.apache.arrow.vector.complex.LargeListVector
    import org.apache.spark.sql.types.{ArrayType, BinaryType}
    val allocator = ArrowCodec.rootAllocator.newChildAllocator("large-test", 0, Long.MaxValue)

    val lu = new LargeVarCharVector("lu", allocator)
    lu.allocateNew()
    lu.setSafe(0, "alpha".getBytes); lu.setNull(1); lu.setSafe(2, "gamma".getBytes)
    lu.setValueCount(3)

    val lb = new LargeVarBinaryVector("lb", allocator)
    lb.allocateNew()
    lb.setSafe(0, Array[Byte](1, 2)); lb.setSafe(1, Array[Byte]()); lb.setNull(2)
    lb.setValueCount(3)

    val vv = new ViewVarCharVector("vv", allocator)
    vv.allocateNew()
    // one short (inline view) and one long (buffer view) value
    vv.setSafe(0, "hi".getBytes)
    vv.setSafe(1, "a-string-well-over-twelve-bytes".getBytes)
    vv.setNull(2)
    vv.setValueCount(3)

    val ll = LargeListVector.empty("ll", allocator)
    ll.allocateNew()
    val lw = ll.getWriter
    lw.setPosition(0); lw.startList(); lw.bigInt.writeBigInt(1L); lw.bigInt.writeBigInt(2L); lw.endList()
    lw.setPosition(1); lw.startList(); lw.endList() // empty list
    lw.setPosition(2); lw.startList(); lw.bigInt.writeBigInt(7L); lw.endList()
    ll.setValueCount(3)

    val vectors = List[FieldVector](lu, lb, vv, ll)
    val root = new VectorSchemaRoot(
      vectors.map(_.getField).asJava, vectors.asJava, 3)
    val bos = new ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root, null, bos)
    writer.start(); writer.writeBatch(); writer.end(); writer.close()
    root.close()
    allocator.close()

    val (schema, rows) = ArrowCodec.decode(bos.toByteArray)
    assert(schema.fields.map(f => f.name -> f.dataType).toSeq === Seq(
      "lu" -> StringType, "lb" -> BinaryType, "vv" -> StringType,
      "ll" -> ArrayType(LongType)))
    assert(rows.length === 3)
    assert(rows(0).getUTF8String(0).toString === "alpha")
    assert(rows(1).isNullAt(0) && rows(2).getUTF8String(0).toString === "gamma")
    assert(rows(0).getBinary(1).toSeq === Seq[Byte](1, 2))
    assert(rows(1).getBinary(1).isEmpty && rows(2).isNullAt(1))
    assert(rows(0).getUTF8String(2).toString === "hi")
    assert(rows(1).getUTF8String(2).toString === "a-string-well-over-twelve-bytes")
    assert(rows(2).isNullAt(2))
    assert(rows(0).getArray(3).toLongArray.toSeq === Seq(1L, 2L))
    assert(rows(1).getArray(3).numElements() === 0)
    assert(rows(2).getArray(3).toLongArray.toSeq === Seq(7L))
  }

  test("empty stream (schema only) decodes to zero rows") {
    val spark0 = spark // touch the session so codec allocators initialize consistently
    val schema = StructType(Seq(StructField("x", StringType)))
    val bytes = ArrowCodec.encode(schema, Iterator.empty)
    val (s, rows) = ArrowCodec.decode(bytes)
    assert(s === StructType(Seq(StructField("x", StringType, nullable = true))))
    assert(rows.isEmpty)
  }

  test("encodeDict: nulls, repeated values and empty input survive the dict round trip") {
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("tag", StringType)))
    def row(id: Long, tag: String) =
      org.apache.spark.sql.catalyst.InternalRow(id, if (tag == null) null else UTF8String.fromString(tag))
    val rows = Seq(row(1, "a"), row(2, null), row(3, "b"), row(4, "a"), row(5, null))

    val bytes = ArrowCodec.encodeDict(schema, rows, Set("tag"))
    val (s, back) = ArrowCodec.decode(bytes)
    // decode resolves the dictionary: value type, not the index type
    assert(s("tag").dataType === StringType)
    val got = back.map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getUTF8String(1).toString))
    assert(got === Seq((1L, "a"), (2L, null), (3L, "b"), (4L, "a"), (5L, null)))

    // empty input: schema-only stream, no dictionary rows
    val (_, none) = ArrowCodec.decode(ArrowCodec.encodeDict(schema, Nil, Set("tag")))
    assert(none.isEmpty)

    // a dict request for a non-string column falls back to plain encode
    val plain = ArrowCodec.encodeDict(schema, rows.take(1), Set("id"))
    assert(ArrowCodec.decode(plain)._2.size === 1)
  }

  test("strings from off-heap bases and from one reused row buffer encode like on-heap copies") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.execution.vectorized.OffHeapColumnVector
    import org.apache.spark.sql.vectorized.ColumnarBatch
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(StructField("tag", StringType)))
    val values = Seq("b", null, "a", "b", "ünïcode", "a", "")
    def strings(bytes: Array[Byte]): Seq[String] = ArrowCodec.decode(bytes)._2
      .map(r => if (r.isNullAt(0)) null else r.getUTF8String(0).toString)
    val onHeap = values.map(v => InternalRow(if (v == null) null else UTF8String.fromString(v)))
    assert(strings(ArrowCodec.encode(schema, onHeap.iterator)) === values)
    assert(strings(ArrowCodec.encodeDict(schema, onHeap, Set("tag"))) === values)

    // a ColumnarBatch over an OffHeapColumnVector hands out strings whose
    // base is not a byte[]: the encoder's getBytes fallback
    val col = new OffHeapColumnVector(values.size, StringType)
    try {
      values.zipWithIndex.foreach { case (v, i) =>
        if (v == null) col.putNull(i) else col.putByteArray(i, v.getBytes("UTF-8"))
      }
      val batch = new ColumnarBatch(Array(col), values.size)
      assert(!batch.getRow(0).getUTF8String(0).getBaseObject.isInstanceOf[Array[Byte]])
      assert(strings(ArrowCodec.encode(schema, batch.rowIterator.asScala)) === values)
      val offHeapRows = values.indices.map(i =>
        InternalRow(if (col.isNullAt(i)) null else col.getUTF8String(i)))
      assert(strings(ArrowCodec.encodeDict(schema, offHeapRows, Set("tag"))) === values)
    } finally col.close()

    // every element is the projection's one UnsafeRow, rewritten in place
    // (how toRdd iterators hand rows out): dictionary keys must be copies
    val proj = UnsafeProjection.create(schema)
    val reused = new IndexedSeq[InternalRow] {
      def length: Int = onHeap.length
      def apply(i: Int): InternalRow = proj(onHeap(i))
    }
    assert(reused(0) eq reused(1))
    assert(strings(ArrowCodec.encodeDict(schema, reused, Set("tag"))) === values)
  }
}
