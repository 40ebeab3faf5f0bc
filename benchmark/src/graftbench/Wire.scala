package graftbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import graft.connector.{ArrowCodec, CHHttp, CHLz4, StubCHServer}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** `wire`: the connector data plane. A seed-generated lineitem-shaped
  * table sits in an in-process StubCHServer; one cycle is a whole-table
  * `graft-ch` scan with compression none, the same with lz4, and an
  * append of the same rows with codec none and with lz4 (the target is
  * truncated after each append, outside the timing).
  *
  * Traced ops additionally replay the op's layer calls one by one on the
  * same data, each in its own span: the scan's HTTP request (until the
  * response headers), draining the body, ArrowCodec.BatchReader over the
  * captured bytes; the append's ArrowCodec.encode, the HTTP send and
  * CHHttp.finishInsert; and for lz4 ops CHLz4 compression and
  * decompression of the same bytes. */
final class Wire(spark: SparkSession, seed: Long, rows: Int) extends Workload {
  import Wire._

  private var server: StubCHServer = _
  private var table: DataFrame = _
  private var expected: Seq[Long] = Nil
  private var replayRows: Array[InternalRow] = _

  def setup(): Unit = {
    table = generate(spark, seed, rows).cache()
    expected = checksums(table) // also fills the cache
    server = new StubCHServer()
    server.load(Source, table)
    server.markLowCardinality(Source, Set(LowCardColumn))
    server.load(Sink, table.limit(0))
  }

  def cycleLength: Int = Kinds.size

  override def warm(ctx: Ctx): Unit = {
    if (ctx.tr.on) replayRows = table.queryExecution.toRdd.map(_.copy()).collect()
    // ops -3 and -1 are an lz4 scan and an lz4 append (Kinds(1), Kinds(3)):
    // they compile the codec paths
    val quiet = new Ctx(new Tracer(false), null)
    Seq(-3L, -1L).foreach(op(_, quiet))
  }

  def op(i: Long, ctx: Ctx): Op = {
    val kind = Kinds(Math.floorMod(i, Kinds.size.toLong).toInt)
    val codec = if (kind.endsWith("lz4")) "lz4" else CHHttp.NoCodec
    if (kind.startsWith("scan")) scan(i, kind, codec, ctx) else insert(i, kind, codec, ctx)
  }

  private def scan(i: Long, kind: String, codec: String, ctx: Ctx): Op = {
    val sent = server.queries.size
    val (got, dt, c) = ctx.timed {
      ctx.tr("connector.datasource") {
        checksums(spark.read.format("graft-ch").option("url", server.url)
          .option("table", Source).option("compression", codec).load())
      }
    }
    Check(got == expected, s"$kind: per-column checksums $got differ from the table's $expected")
    if (ctx.tr.on) {
      // the data-plane SELECT the DataSource sent (not its schema and
      // row-count probes), replayed call by call
      val sql = server.queries.drop(sent)
        .filter(q => q.startsWith("SELECT") && !q.contains("COUNT(") && !q.contains("LIMIT 0"))
        .lastOption.getOrElse(throw new CheckFailed(s"$kind: no data SELECT reached the server"))
      val (in, _) = ctx.tr("connector.http.server_wait") {
        CHHttp.queryArrowWithSummary(server.url, sql, codec)
      }
      val ipc = ctx.tr("connector.http.body") { try in.readAllBytes() finally in.close() }
      val decoded = ctx.tr("connector.arrow.decode") {
        val br = new ArrowCodec.BatchReader(new ByteArrayInputStream(ipc))
        try { var n = 0L; while (br.next()) n += br.get().numRows(); n } finally br.close()
      }
      Check(decoded == rows, s"$kind replay: decoded $decoded rows, sent $rows")
      replayLz4(codec, ipc, ctx)
    }
    Op(i, dt, rows, kind, c)
  }

  private def insert(i: Long, kind: String, codec: String, ctx: Ctx): Op = {
    val src = table.coalesce(1)
    val (_, dt, c) = ctx.timed {
      ctx.tr("connector.datasource") {
        src.write.format("graft-ch").option("url", server.url)
          .option("table", Sink).option("compression", codec).mode("append").save()
      }
    }
    Check(server.rowCount(Sink) == rows,
      s"$kind: the sink holds ${server.rowCount(Sink)} rows after appending $rows")
    truncateSink()
    if (ctx.tr.on) {
      val insertSql = s"INSERT INTO `$Sink` (${table.columns.map(n => s"`$n`").mkString(", ")})"
      val ipc = ctx.tr("connector.arrow.encode") {
        ArrowCodec.encode(table.schema, replayRows.iterator)
      }
      replayLz4(codec, ipc, ctx)
      val conn = ctx.tr("connector.http.send") {
        val conn = CHHttp.openInsert(server.url, insertSql, codec)
        val out = CHHttp.insertStream(conn, codec)
        try out.write(ipc) finally out.close()
        conn
      }
      ctx.tr("connector.insert.finish") { CHHttp.finishInsert(conn, insertSql) }
      Check(server.rowCount(Sink) == rows,
        s"$kind replay: the sink holds ${server.rowCount(Sink)} rows after appending $rows")
      truncateSink()
    }
    Op(i, dt, rows, kind, c)
  }

  // raw/compressed byte counts of the traced ops, by op id
  private val lz4Bytes = scala.collection.mutable.Map.empty[Long, (Long, Long)]

  /** CH-LZ4 framing of `ipc` and back, as the lz4 ops put it on the wire. */
  private def replayLz4(codec: String, ipc: Array[Byte], ctx: Ctx): Unit = {
    val wire = if (codec == "lz4") {
      val framed = ctx.tr("connector.lz4.compress") {
        val bos = new ByteArrayOutputStream(ipc.length / 2)
        val z = new CHLz4.FramedOutputStream(bos)
        z.write(ipc); z.close()
        bos.toByteArray
      }
      val back = ctx.tr("connector.lz4.decompress") {
        new CHLz4.FramedInputStream(new ByteArrayInputStream(framed)).readAllBytes()
      }
      Check(java.util.Arrays.equals(back, ipc), "CH-LZ4 round trip changed the bytes")
      framed.length.toLong
    } else ipc.length.toLong
    lz4Bytes(ctx.tr.op) = (ipc.length.toLong, wire)
  }

  private def truncateSink(): Unit = CHHttp.execute(server.url, s"TRUNCATE TABLE `$Sink`")

  def finalChecks(): Unit =
    Check(server.rowCount(Source) == rows, s"the source table lost rows: ${server.rowCount(Source)}")

  def details(ops: Seq[Op]): Seq[(String, Double, String)] =
    Kinds.map { k =>
      val ks = ops.filter(_.kind == k)
      val rate = if (ks.isEmpty) 0.0 else ks.map(_.work).sum / ks.map(_.seconds).sum
      (s"${k.replace("scan_none", "scan").replace("insert_none", "insert")}_rows_per_s", rate, "rows/s")
    }

  def layers(tr: Tracer, ops: Seq[Op]): Seq[(String, Double)] = {
    def secs(op: Long, name: String): Double = tr.opSeconds(op, name)
    def total(name: String): Double = ops.map(o => secs(o.id, name)).sum
    val scans = ops.filter(_.kind.startsWith("scan"))
    val inserts = ops.filter(_.kind.startsWith("insert"))
    val lz4Ops = ops.filter(_.kind.endsWith("lz4"))
    def layerSum(o: Op): Double =
      if (o.kind.startsWith("scan"))
        Seq("connector.http.server_wait", "connector.http.body", "connector.arrow.decode").map(secs(o.id, _)).sum
      else Seq("connector.arrow.encode", "connector.http.send", "connector.insert.finish").map(secs(o.id, _)).sum
    val rawLz4 = lz4Ops.map(o => lz4Bytes(o.id)._1).sum.toDouble
    val wireLz4 = lz4Ops.map(o => lz4Bytes(o.id)._2).sum.toDouble
    Seq(
      "connector.arrow.decode_rows_per_s" -> scans.map(_.work).sum / total("connector.arrow.decode"),
      "connector.arrow.encode_rows_per_s" -> inserts.map(_.work).sum / total("connector.arrow.encode"),
      "connector.lz4.compress_mb_per_s" -> rawLz4 / 1e6 / total("connector.lz4.compress"),
      "connector.lz4.decompress_mb_per_s" -> rawLz4 / 1e6 / total("connector.lz4.decompress"),
      "connector.lz4.ratio" -> rawLz4 / wireLz4,
      "connector.wire_bytes_per_row" -> ops.map(o => lz4Bytes(o.id)._2).sum.toDouble / ops.map(_.work).sum,
      "connector.http.server_wait_s" -> Stats.median(scans.map(o => secs(o.id, "connector.http.server_wait"))),
      "connector.http.body_s" -> Stats.median(scans.map(o => secs(o.id, "connector.http.body"))),
      "connector.insert.finish_s" -> Stats.median(inserts.map(o => secs(o.id, "connector.insert.finish"))),
      "connector.spark_overhead_s" -> Stats.median(ops.map(o => o.seconds - layerSum(o))),
      "connector.span_coverage" -> Stats.median(ops.map(o => layerSum(o) / o.seconds)))
  }
}

object Wire {
  val Source = "lineitem_w"
  val Sink = "lineitem_sink"
  val LowCardColumn = "l_shipmode"
  val Kinds: Seq[String] = Seq("scan_none", "scan_lz4", "insert_none", "insert_lz4")

  /** lineitem's eleven columns, a Nullable String (`l_comment`, one row
    * in ten NULL) and a LowCardinality String (`l_shipmode`, seven
    * values), every value a hash of (row, seed, column). `l_shipdate` is
    * carried as Int64 epoch seconds: the stub serves a table with a
    * LowCardinality column through ArrowCodec.encodeDict, which encodes
    * only String, Int32, Int64 and Float64 columns besides the
    * dictionary ones. */
  def generate(spark: SparkSession, seed: Long, rows: Int): DataFrame = {
    def h(k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
    def pick(k: Int, n: Int): Column = pmod(h(k), lit(n.toLong))
    val words = array(Seq("quick", "final", "pending", "ironic", "express", "careful",
      "regular", "special", "bold", "silent", "furious", "even").map(lit): _*)
    spark.range(0, rows.toLong, 1, 4).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (pick(1, 20000) + 1).as("l_partkey"),
      (pick(2, 1000) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pick(3, 50) + 1).cast("double").as("l_quantity"),
      (pick(4, 10000000) / 100.0).as("l_extendedprice"),
      (pick(5, 11) / 100.0).as("l_discount"),
      (pick(6, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pick(7, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (pick(8, 2) + 1).cast("int")).as("l_linestatus"),
      (lit(694224000L) + pick(9, 2500) * 86400).as("l_shipdate"),
      when(pick(10, 10) === 0, lit(null).cast("string")).otherwise(concat_ws(" ",
        element_at(words, (pick(11, 12) + 1).cast("int")),
        element_at(words, (pick(12, 12) + 1).cast("int")),
        h(13).cast("string"))).as("l_comment"),
      element_at(array(Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "REG AIR", "FOB").map(lit): _*),
        (pick(14, 7) + 1).cast("int")).as(LowCardColumn))
  }

  /** Row count, then one order-insensitive checksum per column: the sum
    * of the low 32 bits of each value's xxhash64. */
  def checksums(df: DataFrame): Seq[Long] = {
    val aggs = count(lit(1)) +: df.columns.toSeq.map(c => sum(xxhash64(col(c)).bitwiseAND(0xFFFFFFFFL)))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    (0 until r.length).map(r.getLong)
  }
}
