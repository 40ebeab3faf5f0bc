package graft.connector

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.functions.SqlLexer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructType}

/** Offline stand-in for a ClickHouse HTTP endpoint, used by the connector
  * specs and the connector CORRECTNESS queries (this container has no
  * live server — same role as the reference's testcontainers harness,
  * `clickhouse-arrow/src/test_utils.rs:301-478`, e2e shape
  * `tests/tests/arrow.rs:21-79`).
  *
  * Honest semantics, deliberately dumb execution:
  *  - stores tables as (schema, rows); INSERT bodies are decoded Arrow
  *    IPC appended to the table; SELECTs re-encode as Arrow IPC;
  *  - honors column projection, WHERE (via [[StubWhere]], the exact
  *    grammar `CHSql.compileFilter` emits — a real ClickHouse evaluates
  *    pushed predicates, so the stand-in must too) and LIMIT;
  *  - `SHOW TABLES`, `CREATE TABLE` (parsed with the CHType parser),
  *    `DROP TABLE` and `TRUNCATE TABLE` support the catalog surface;
  *  - [[requireAuth]] arms credential checking: every request must then
  *    carry matching `X-ClickHouse-User`/`X-ClickHouse-Key` headers or
  *    is rejected HTTP 403 / code 516 before touching any table — the
  *    real server's auth contract (reference sends the headers from
  *    `http/client.rs:44-66`), test-enforced both ways;
  *  - pass a server [[javax.net.ssl.SSLContext]] to serve `https://`
  *    (the reference's `with_tls` endpoint shape); [[url]] then returns
  *    an https URL and clients negotiate a real TLS handshake.
  *
  * FIXTURE-SIZED ONLY: tables live on the driver heap and [[load]]
  * collects its DataFrame — this class is a test harness (the
  * testcontainers analog), never a production endpoint; [[load]] refuses
  * inputs past a fixture-scale row cap rather than OOM the driver.
  */
final class StubCHServer(tlsContext: Option[javax.net.ssl.SSLContext]) {

  /** Plain-HTTP stub. A REAL no-arg constructor (not a default param):
    * py4j — the PySpark smoke constructs the stub reflectively — only
    * sees actual constructor overloads. */
  def this() = this(None)

  final case class TableData(schema: StructType, rows: Vector[InternalRow])

  private val tables = new ConcurrentHashMap[String, TableData]()
  private val databases = ConcurrentHashMap.newKeySet[String]()
  databases.add("default")
  // tables whose marked String columns serve DICT-ENCODED (the
  // LowCardinality wire form, reference serialize/low_cardinality.rs) —
  // scans of these tables exercise the A5 decode path end-to-end
  private val lowCardCols = new ConcurrentHashMap[String, Set[String]]()
  // tables served as PRE-ENCODED Arrow IPC bytes verbatim — for wire
  // forms ArrowCodec.encode cannot build from InternalRows (dense-union
  // Variant columns, reference arrow/types.rs:483); pushdown is ignored
  private val rawTables = new ConcurrentHashMap[String, Array[Byte]]()
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val encodings = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  private val rawQueryStrings = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private val server: HttpServer = tlsContext match {
    case Some(ctx) =>
      val s = com.sun.net.httpserver.HttpsServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      s.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(ctx))
      s
    case None => HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  }
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  // daemon threads: a leaked server must never block JVM exit (Verify/
  // Bench mains end with spark.stop(), not System.exit)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8, r => {
    val t = new Thread(r, "stub-ch-server")
    t.setDaemon(true)
    t
  }))
  server.start()

  def url: String =
    s"${if (tlsContext.isDefined) "https" else "http"}://127.0.0.1:${server.getAddress.getPort}"

  // ---- credential enforcement (A19 auth): when armed, every request is
  // checked BEFORE any statement executes, like the real server
  private val requiredCreds =
    new java.util.concurrent.atomic.AtomicReference[Option[(String, String)]](None)
  private val authSeen =
    new java.util.concurrent.ConcurrentLinkedQueue[(Option[String], Option[String], Option[String])]()

  /** Require `X-ClickHouse-User`/`X-ClickHouse-Key` to match on every
    * subsequent request; mismatch or absence → HTTP 403, code 516
    * (AUTHENTICATION_FAILED), nothing executed. */
  def requireAuth(user: String, key: String): Unit =
    requiredCreds.set(Some((user, key)))

  /** (user, key, database) headers per request, in arrival order —
    * header-emission assertions. */
  def receivedAuth: Seq[(Option[String], Option[String], Option[String])] =
    authSeen.iterator().asScala.toSeq

  /** Every SQL text received, in arrival order — pushdown assertions. */
  def queries: Seq[String] = seen.iterator().asScala.toSeq

  /** (request Content-Encoding, response Content-Encoding) per request,
    * in arrival order — wire-compression assertions. */
  def wireEncodings: Seq[(String, String)] = encodings.iterator().asScala.toSeq

  /** Raw URL query strings per request — settings-param assertions. */
  def requestQueryStrings: Seq[String] = rawQueryStrings.iterator().asScala.toSeq

  def databaseNames: Seq[String] = databases.asScala.toSeq.sorted

  def stop(): Unit = server.stop(0)

  /** Seed a table from a DataFrame (test fixture loading). The copy must
    * happen INSIDE the RDD: scan operators reuse one row buffer, so a
    * driver-side copy-after-collect would alias every element in local
    * mode. */
  def load(name: String, df: DataFrame): Unit = {
    // fixture-scale guard: this stub holds tables on the driver heap (it
    // is the testcontainers analog, NOT a production endpoint) — cap the
    // collect before it can OOM the driver on a mistakenly large input
    val capped = df.limit(StubCHServer.MaxFixtureRows + 1)
    val rows = capped.queryExecution.toRdd.map(_.copy()).collect().toVector
    require(rows.size <= StubCHServer.MaxFixtureRows,
      s"StubCHServer.load('$name'): input exceeds the fixture cap of " +
        s"${StubCHServer.MaxFixtureRows} rows — this in-memory stub is for " +
        "test fixtures only; point the connector at a real endpoint instead")
    tables.put(name, TableData(df.schema, rows))
  }

  def tableNames: Seq[String] = tables.keySet().asScala.toSeq.sorted
  def rowCount(name: String): Int = Option(tables.get(name)).map(_.rows.size).getOrElse(0)

  /** Declare `LowCardinality(String)` columns: subsequent SELECTs of these
    * columns respond dictionary-encoded on the wire. */
  def markLowCardinality(table: String, cols: Set[String]): Unit =
    lowCardCols.put(table, cols)

  // per-request progress counters for the X-ClickHouse-Summary response
  // header (set by select/insert, read by respond — same handler thread)
  private val summaryRows = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (-1L, -1L)
  }

  // fault injection: fail the next `n` requests with the given CH error
  // code (retry-path testing — the reference's flaky-server e2e analog)
  private val failNext = new java.util.concurrent.atomic.AtomicInteger(0)
  private val failCode = new java.util.concurrent.atomic.AtomicInteger(0)
  def failNextRequests(n: Int, code: Int): Unit = { failCode.set(code); failNext.set(n) }

  // ----------------------------------------------------------- dispatch

  // ---- sleeping-cloud-instance simulation (A22): while the counter is
  // positive every request (including /ping) answers 503, as an idle
  // cloud instance does until the wakeup ping brings it up
  private val asleep = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The next `n` requests get HTTP 503 before the stub "wakes". */
  def sleepFor(n: Int): Unit = asleep.set(n)

  private def handle(ex: HttpExchange): Unit =
    try {
      if (asleep.get() > 0) {
        asleep.decrementAndGet()
        ex.getRequestBody.readAllBytes()
        val msg = "Service Unavailable (instance is idle)".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(503, msg.length)
        ex.getResponseBody.write(msg)
        ex.close()
        return
      }
      // the ClickHouse health endpoint: unauthenticated 200 "Ok." (the
      // real server answers /ping before auth; A21/A22 surface)
      if (ex.getRequestURI.getPath == "/ping") {
        ex.getRequestBody.readAllBytes()
        val ok = "Ok.\n".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, ok.length)
        ex.getResponseBody.write(ok)
        ex.close()
        return
      }
      val hdr = ex.getRequestHeaders
      authSeen.add((
        Option(hdr.getFirst("X-ClickHouse-User")),
        Option(hdr.getFirst("X-ClickHouse-Key")),
        Option(hdr.getFirst("X-ClickHouse-Database"))))
      requiredCreds.get() match {
        case Some((u, k))
            if !(Option(hdr.getFirst("X-ClickHouse-User")).contains(u) &&
              Option(hdr.getFirst("X-ClickHouse-Key")).contains(k)) =>
          // the real server's auth failure shape: HTTP 403, code 516 —
          // rejected before the statement is even parsed
          ex.getRequestBody.readAllBytes()
          val msg = ("Code: 516. DB::Exception: " +
            s"${Option(hdr.getFirst("X-ClickHouse-User")).getOrElse("default")}: " +
            "Authentication failed: password is incorrect, or there is no user " +
            "with such name. (AUTHENTICATION_FAILED)")
            .getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(403, msg.length)
          ex.getResponseBody.write(msg)
          ex.close()
          return
        case _ => ()
      }
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val sql = params.split("&").collectFirst {
        case p if p.startsWith("query=") =>
          java.net.URLDecoder.decode(p.substring(6), StandardCharsets.UTF_8)
      }.getOrElse("")
      // wire compression, the ClickHouse HTTP contract: request bodies
      // arrive under Content-Encoding; responses compress only when the
      // client both advertises Accept-Encoding and enables
      // enable_http_compression=1 (like the real server's setting)
      val reqEnc = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
        .getOrElse(CHHttp.NoCodec)
      val respEnc =
        if (params.contains("enable_http_compression=1"))
          Option(ex.getRequestHeaders.getFirst("Accept-Encoding")).getOrElse(CHHttp.NoCodec)
        else CHHttp.NoCodec
      encodings.add((reqEnc, respEnc))
      val body = {
        val raw = ex.getRequestBody.readAllBytes()
        if (raw.isEmpty || reqEnc == CHHttp.NoCodec) raw
        else CHHttp.wrapIn(new java.io.ByteArrayInputStream(raw), reqEnc).readAllBytes()
      }
      seen.add(sql)
      rawQueryStrings.add(params)
      summaryRows.set((-1L, -1L))
      if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) {
        val c = failCode.get()
        respond(ex,
          Left(s"Code: $c. DB::Exception: injected transient failure (${CHError.nameOf(c)})"),
          CHHttp.NoCodec)
        return
      }
      // the transport appends the output-format clause; statements below
      // are parsed without it
      val stmt = sql.trim.replaceAll("(?i)\\s+FORMAT\\s+ArrowStream\\s*$", "")

      val upper = stmt.toUpperCase
      if (upper.startsWith("INSERT")) respond(ex, insert(stmt, body), respEnc)
      else if (upper.startsWith("SELECT")) respond(ex, select(stmt), respEnc)
      else if (upper.startsWith("SHOW TABLES")) respond(ex, showTables(), respEnc)
      else if (upper.startsWith("SHOW DATABASES")) respond(ex, showDatabases(), respEnc)
      else if (upper.startsWith("CREATE TABLE")) respond(ex, createTable(stmt), respEnc)
      else if (upper.startsWith("CREATE DATABASE")) respond(ex, createDatabase(stmt), respEnc)
      else if (upper.startsWith("DROP TABLE")) respond(ex, dropTable(stmt), respEnc)
      else if (upper.startsWith("DROP DATABASE")) respond(ex, dropDatabase(stmt), respEnc)
      else if (upper.startsWith("TRUNCATE")) respond(ex, truncate(stmt), respEnc)
      else if (upper.startsWith("OPTIMIZE TABLE")) {
        // maintenance no-op with DEDUPLICATE honored: full-row duplicates
        // collapse, like the server's dedup merge
        val name = tableOf(stmt, "TABLE")
        if (stmt.toUpperCase.contains("DEDUPLICATE"))
          name.foreach(n => tables.computeIfPresent(n, (_, d) =>
            d.copy(rows = d.rows.distinct)))
        respond(ex, Right(Array.empty[Byte]), respEnc)
      }
      else if (upper.startsWith("ALTER TABLE") && upper.contains(" COLUMN "))
        respond(ex, alterColumn(stmt), respEnc)
      else if (upper.startsWith("ALTER TABLE") && upper.contains("DELETE WHERE"))
        respond(ex, alterDelete(stmt), respEnc)
      else if (upper.startsWith("ALTER TABLE") && upper.contains(" UPDATE "))
        respond(ex, alterUpdate(stmt), respEnc)
      else if (upper.startsWith("RENAME TABLE")) respond(ex, renameTable(stmt), respEnc)
      else respond(ex,
        Left(s"Code: 62. DB::Exception: unsupported statement: $stmt (SYNTAX_ERROR)"),
        CHHttp.NoCodec)
    } catch {
      case e: Throwable =>
        respond(ex,
          Left(s"Code: 1002. DB::Exception: ${e.getClass.getSimpleName}: ${e.getMessage}"),
          CHHttp.NoCodec)
    }

  private def respond(
      ex: HttpExchange, result: Either[String, Array[Byte]], respEnc: String): Unit = {
    result match {
      case Right(raw) =>
        val bytes =
          if (raw.isEmpty || respEnc == CHHttp.NoCodec) raw
          else {
            val bos = new java.io.ByteArrayOutputStream()
            val z = CHHttp.wrapOut(bos, respEnc)
            z.write(raw); z.close()
            bos.toByteArray
          }
        if (bytes.nonEmpty && respEnc != CHHttp.NoCodec)
          ex.getResponseHeaders.set("Content-Encoding", respEnc)
        // the real server's progress header (A17 over HTTP)
        val (readRows, writtenRows) = summaryRows.get()
        if (readRows >= 0 || writtenRows >= 0)
          ex.getResponseHeaders.set("X-ClickHouse-Summary",
            s"""{"read_rows":"${math.max(0, readRows)}","written_rows":"${math.max(0, writtenRows)}"}""")
        ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      case Left(err) =>
        val msg = err.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(500, msg.length)
        ex.getResponseBody.write(msg)
    }
    ex.close()
  }

  // ---------------------------------------------------------- statements

  private val identRe = "`((?:[^`\\\\]|\\\\.)*)`|([A-Za-z_][A-Za-z0-9_]*)"

  private def unescape(m: java.util.regex.Matcher): String =
    if (m.group(1) != null) m.group(1).replace("\\`", "`").replace("\\\\", "\\") else m.group(2)

  private def tableOf(sql: String, after: String): Option[String] = {
    val m = java.util.regex.Pattern
      // the extra (?:...) around the qualifier matters: identRe is an
      // alternation, so without it the `\.` would bind only to the bare-
      // ident arm and `db`.`t` would parse as table `db`
      .compile(s"(?i)$after\\s+(?:(?:$identRe)\\.)?($identRe)")
      .matcher(sql)
    if (m.find()) {
      // last ident group pair is the table name
      val t = Option(m.group(4)).map(_.replace("\\`", "`").replace("\\\\", "\\")).orElse(Option(m.group(5)))
      t
    } else None
  }

  private def insert(sql: String, body: Array[Byte]): Either[String, Array[Byte]] =
    tableOf(sql, "INTO") match {
      case None => Left(s"cannot parse insert target in: $sql")
      case Some(name) =>
        val (schema, rows) = ArrowCodec.decode(body)
        tables.compute(name, (_, prev) =>
          if (prev == null) TableData(schema, rows.toVector)
          else prev.copy(rows = prev.rows ++ rows))
        summaryRows.set((-1L, rows.size.toLong))
        Right(Array.empty)
    }

  /** Serve a table as pre-encoded Arrow IPC bytes (Variant/union wire
    * forms); every SELECT on it returns the stream verbatim. */
  def loadRawArrow(name: String, bytes: Array[Byte]): Unit = rawTables.put(name, bytes)

  /** Serve a one-column `Variant(String, Int64)` table in the reference's
    * dense-union wire form (`arrow/types.rs:483-499`; e2e
    * `tests/tests/new_types.rs:125`): values alternate branches by
    * parity — even ids ride the String branch ("s<i>"), odd ids the
    * Int64 branch (i). Deterministic, so declared queries can assert on
    * it at any fixture scale. */
  def loadVariantTable(name: String, rows: Int): Unit = {
    import org.apache.arrow.vector.{BigIntVector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.complex.DenseUnionVector
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field}
    val alloc = ArrowCodec.rootAllocator
      .newChildAllocator(s"variant-$name", 0, Long.MaxValue)
    val duv = DenseUnionVector.empty("v", alloc)
    val strId = duv.registerNewTypeId(Field.nullable("String", ArrowType.Utf8.INSTANCE))
    val intId = duv.registerNewTypeId(Field.nullable("Int64", new ArrowType.Int(64, true)))
    val strVec = duv.addVector(strId,
      new VarCharVector("String", alloc)).asInstanceOf[VarCharVector]
    val intVec = duv.addVector(intId,
      new BigIntVector("Int64", alloc)).asInstanceOf[BigIntVector]
    duv.allocateNew(); strVec.allocateNew(); intVec.allocateNew()
    var si = 0
    var ii = 0
    var i = 0
    while (i < rows) {
      if (i % 2 == 0) {
        strVec.setSafe(si, s"s$i".getBytes(StandardCharsets.UTF_8))
        duv.setTypeId(i, strId)
        duv.getOffsetBuffer.setInt(i.toLong * 4, si)
        si += 1
      } else {
        intVec.setSafe(ii, i.toLong)
        duv.setTypeId(i, intId)
        duv.getOffsetBuffer.setInt(i.toLong * 4, ii)
        ii += 1
      }
      i += 1
    }
    strVec.setValueCount(si); intVec.setValueCount(ii); duv.setValueCount(rows)
    val root = new VectorSchemaRoot(
      java.util.List.of(duv.getField),
      java.util.List.of(duv: org.apache.arrow.vector.FieldVector), rows)
    val out = new java.io.ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root, null, out)
    writer.start(); writer.writeBatch(); writer.end()
    writer.close(); root.close(); duv.close(); alloc.close()
    rawTables.put(name, out.toByteArray)
  }

  /** Enum8 wire form (reference `arrow/types.rs:471-474`): a
    * Dictionary(Int8, Utf8)-encoded column whose index field carries the
    * declared name↔code map as `ch.enumValues` Arrow field metadata.
    * Values cycle through the declared names. */
  def loadEnumTable(name: String, values: Seq[(String, Int)], rows: Int): Unit = {
    import org.apache.arrow.vector.{TinyIntVector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType}
    val alloc = ArrowCodec.rootAllocator
      .newChildAllocator(s"enum-$name", 0, Long.MaxValue)
    val dictVec = new VarCharVector("e_dict", alloc)
    dictVec.allocateNew(values.size)
    values.zipWithIndex.foreach { case ((nm, _), i) =>
      dictVec.setSafe(i, nm.getBytes(StandardCharsets.UTF_8))
    }
    dictVec.setValueCount(values.size)
    val encoding = new DictionaryEncoding(1L, false, new ArrowType.Int(8, true))
    val provider = new DictionaryProvider.MapDictionaryProvider()
    provider.put(new Dictionary(dictVec, encoding))

    val meta = new java.util.HashMap[String, String]()
    meta.put(ArrowCodec.CHTypeKey, "Enum8")
    meta.put(ArrowCodec.EnumValuesKey,
      values.map { case (nm, code) => s"$nm=$code" }.mkString(","))
    val idField = new Field("e",
      new FieldType(true, new ArrowType.Int(8, true), encoding, meta),
      java.util.List.of[Field]())
    val idVec = idField.createVector(alloc).asInstanceOf[TinyIntVector]
    idVec.allocateNew(rows)
    var i = 0
    while (i < rows) { idVec.setSafe(i, (i % values.size).toByte); i += 1 }
    idVec.setValueCount(rows)

    // single column: raw-Arrow tables serve the stored stream verbatim,
    // so a pruned/aggregated SELECT over a multi-column raw table would
    // desync the declared read schema from the wire
    val root = new VectorSchemaRoot(
      java.util.List.of(idField),
      java.util.List.of(idVec: org.apache.arrow.vector.FieldVector), rows)
    val out = new java.io.ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root, provider, out)
    writer.start(); writer.writeBatch(); writer.end()
    writer.close(); root.close(); idVec.close(); dictVec.close(); alloc.close()
    rawTables.put(name, out.toByteArray)
  }

  /** Dynamic wire form: the same dense union as Variant, tagged
    * `ch.type=Dynamic` in field metadata — the scan stringifies values
    * and keeps the type name (reference observable behavior,
    * `tests/tests/new_types.rs:242-296`). Rows cycle String/Int64/NULL. */
  def loadDynamicTable(name: String, rows: Int): Unit = {
    import org.apache.arrow.vector.{BigIntVector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.complex.DenseUnionVector
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    val alloc = ArrowCodec.rootAllocator
      .newChildAllocator(s"dynamic-$name", 0, Long.MaxValue)
    val duv = DenseUnionVector.empty("dyn", alloc)
    val strId = duv.registerNewTypeId(Field.nullable("String", ArrowType.Utf8.INSTANCE))
    val intId = duv.registerNewTypeId(Field.nullable("Int64", new ArrowType.Int(64, true)))
    val strVec = duv.addVector(strId,
      new VarCharVector("String", alloc)).asInstanceOf[VarCharVector]
    val intVec = duv.addVector(intId,
      new BigIntVector("Int64", alloc)).asInstanceOf[BigIntVector]
    duv.allocateNew(); strVec.allocateNew(); intVec.allocateNew()
    var si = 0; var ii = 0; var i = 0
    while (i < rows) {
      (i % 3) match {
        case 0 =>
          strVec.setSafe(si, s"dyn$i".getBytes(StandardCharsets.UTF_8))
          duv.setTypeId(i, strId); duv.getOffsetBuffer.setInt(i.toLong * 4, si); si += 1
        case 1 =>
          intVec.setSafe(ii, i.toLong * 10)
          duv.setTypeId(i, intId); duv.getOffsetBuffer.setInt(i.toLong * 4, ii); ii += 1
        case _ => // NULL Dynamic: a null slot on the String branch
          strVec.setNull(si)
          duv.setTypeId(i, strId); duv.getOffsetBuffer.setInt(i.toLong * 4, si); si += 1
      }
      i += 1
    }
    strVec.setValueCount(si); intVec.setValueCount(ii); duv.setValueCount(rows)
    // rebuild the root field with the ch.type tag (metadata lives in the
    // schema message, not the batch body)
    val f0 = duv.getField
    val meta = new java.util.HashMap[String, String]()
    meta.put(ArrowCodec.CHTypeKey, "Dynamic")
    val tagged = new Field(f0.getName,
      new FieldType(f0.isNullable, f0.getType, null, meta), f0.getChildren)
    val root = new VectorSchemaRoot(
      java.util.List.of(tagged),
      java.util.List.of(duv: org.apache.arrow.vector.FieldVector), rows)
    val out = new java.io.ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root, null, out)
    writer.start(); writer.writeBatch(); writer.end()
    writer.close(); root.close(); duv.close(); alloc.close()
    rawTables.put(name, out.toByteArray)
  }

  /** BFloat16 + Time + Time64 wire forms (reference `values.rs:105-111`):
    * bf16 as u16 raw bits tagged `ch.type=BFloat16`, Time as
    * Time32(SECOND), Time64 as Time64(MICROSECOND). */
  def loadScalarWireTable(name: String, rows: Int): Unit = {
    import org.apache.arrow.vector.{TimeMicroVector, TimeSecVector, UInt2Vector, VectorSchemaRoot}
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    import org.apache.arrow.vector.types.TimeUnit
    val alloc = ArrowCodec.rootAllocator
      .newChildAllocator(s"scalarwire-$name", 0, Long.MaxValue)
    val bfMeta = new java.util.HashMap[String, String]()
    bfMeta.put(ArrowCodec.CHTypeKey, "BFloat16")
    val bfField = new Field("bf",
      new FieldType(true, new ArrowType.Int(16, false), null, bfMeta),
      java.util.List.of[Field]())
    val tMeta = new java.util.HashMap[String, String]()
    tMeta.put(ArrowCodec.CHTypeKey, "Time")
    val tField = new Field("t",
      new FieldType(true, new ArrowType.Time(TimeUnit.SECOND, 32), null, tMeta),
      java.util.List.of[Field]())
    val t64Meta = new java.util.HashMap[String, String]()
    t64Meta.put(ArrowCodec.CHTypeKey, "Time64(6)")
    val t64Field = new Field("t64",
      new FieldType(true, new ArrowType.Time(TimeUnit.MICROSECOND, 64), null, t64Meta),
      java.util.List.of[Field]())
    val bfVec = bfField.createVector(alloc).asInstanceOf[UInt2Vector]
    val tVec = tField.createVector(alloc).asInstanceOf[TimeSecVector]
    val t64Vec = t64Field.createVector(alloc).asInstanceOf[TimeMicroVector]
    bfVec.allocateNew(rows); tVec.allocateNew(rows); t64Vec.allocateNew(rows)
    var i = 0
    while (i < rows) {
      // bf16 raw bits of (i * 0.5f): exact in bf16 for small i
      bfVec.setSafe(i, (java.lang.Float.floatToRawIntBits(i * 0.5f) >>> 16).toChar)
      tVec.setSafe(i, i * 60)          // i minutes past midnight, seconds
      t64Vec.setSafe(i, i * 60000000L) // same instant, microseconds
      i += 1
    }
    bfVec.setValueCount(rows); tVec.setValueCount(rows); t64Vec.setValueCount(rows)
    val root = new VectorSchemaRoot(
      java.util.List.of(bfField, tField, t64Field),
      java.util.List.of(bfVec: org.apache.arrow.vector.FieldVector, tVec, t64Vec), rows)
    val out = new java.io.ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root, null, out)
    writer.start(); writer.writeBatch(); writer.end()
    writer.close(); root.close(); bfVec.close(); tVec.close(); t64Vec.close(); alloc.close()
    rawTables.put(name, out.toByteArray)
  }

  /** Raw-table SELECT: honor column projection by re-slicing the stored
    * Arrow stream VECTOR-wise (keeps dict/union wire forms intact — a
    * row-level re-encode would lose them), and fail loudly on anything
    * the verbatim stream cannot answer (pushed WHERE / GROUP BY) —
    * loud beats silently returning unfiltered data. */
  private def selectRaw(name: String, sql: String): Either[String, Array[Byte]] = {
    val bytes = rawTables.get(name)
    val upper = sql.toUpperCase
    if (upper.contains(" WHERE ") || upper.contains(" GROUP BY "))
      return Left(s"Code: 48. DB::Exception: raw-arrow stub table $name " +
        "cannot evaluate a pushed WHERE/GROUP BY (NOT_IMPLEMENTED)")
    val colsPart = sql.substring(upper.indexOf("SELECT") + 6, upper.indexOf(" FROM ")).trim
    if (colsPart == "*") return Right(bytes)
    // COUNT(*) (the pushed count aggregate and the statistics probe) is
    // answerable verbatim: the stream's row count
    if (colsPart.equalsIgnoreCase("COUNT(*)")) {
      val alloc0 = ArrowCodec.rootAllocator.newChildAllocator(s"raw-count-$name", 0, Long.MaxValue)
      val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc0)
      val total =
        try {
          var t = 0L
          while (rdr.loadNextBatch()) t += rdr.getVectorSchemaRoot.getRowCount
          t
        } finally { rdr.close(); alloc0.close() }
      val alloc1 = ArrowCodec.rootAllocator.newChildAllocator(s"raw-count-out-$name", 0, Long.MaxValue)
      val cnt = new org.apache.arrow.vector.BigIntVector("COUNT(*)", alloc1)
      cnt.allocateNew(1); cnt.setSafe(0, total); cnt.setValueCount(1)
      val root = new org.apache.arrow.vector.VectorSchemaRoot(
        java.util.List.of(cnt.getField),
        java.util.List.of(cnt: org.apache.arrow.vector.FieldVector), 1)
      val out = new java.io.ByteArrayOutputStream()
      val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, out)
      w.start(); w.writeBatch(); w.end()
      w.close(); root.close(); cnt.close(); alloc1.close()
      return Right(out.toByteArray)
    }
    val want = colsPart.split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
    val alloc = ArrowCodec.rootAllocator.newChildAllocator(s"raw-proj-$name", 0, Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val names = reader.getVectorSchemaRoot.getSchema.getFields.asScala.map(_.getName).toSet
      val missing = want.filterNot(names)
      if (missing.nonEmpty)
        return Left(s"Code: 47. DB::Exception: Missing columns ${missing.mkString(", ")} " +
          s"in raw table $name (UNKNOWN_IDENTIFIER)")
      if (want == reader.getVectorSchemaRoot.getSchema.getFields.asScala.map(_.getName).toSeq)
        return Right(bytes)
      val out = new java.io.ByteArrayOutputStream()
      // writer is created after the first batch so the reader's
      // dictionaries are loaded before start() snapshots the provider
      var writer: org.apache.arrow.vector.ipc.ArrowStreamWriter = null
      var subRoot: org.apache.arrow.vector.VectorSchemaRoot = null
      try {
        while (reader.loadNextBatch()) {
          val root = reader.getVectorSchemaRoot
          if (writer == null) {
            val vecs = want.map(c => root.getVector(c))
            subRoot = new org.apache.arrow.vector.VectorSchemaRoot(
              vecs.map(_.getField).asJava,
              vecs.map(v => v: org.apache.arrow.vector.FieldVector).asJava,
              root.getRowCount)
            writer = new org.apache.arrow.vector.ipc.ArrowStreamWriter(subRoot, reader, out)
            writer.start()
          }
          subRoot.setRowCount(root.getRowCount)
          writer.writeBatch()
        }
        if (writer == null) return Right(bytes) // zero batches: verbatim
        writer.end()
        Right(out.toByteArray)
      } finally {
        if (writer != null) writer.close() // before the roots it references
      }
    } finally {
      reader.close()
      alloc.close()
    }
  }

  private def select(sql: String): Either[String, Array[Byte]] =
    tableOf(sql, "FROM") match {
      case None => Left(s"cannot parse select source in: $sql")
      case Some(name) if rawTables.containsKey(name) => selectRaw(name, sql)
      case Some(name) =>
        Option(tables.get(name)) match {
          case None =>
            // the real server's error-body shape — CHError.parse reads it
            Left(s"Code: 60. DB::Exception: Table $name doesn't exist. (UNKNOWN_TABLE)")
          case Some(data) =>
            val clauses = new StubCHServer.SelectClauses(sql)
            val colsPart = clauses.body("SELECT")
            if (colsPart.toUpperCase.matches("(?s).*\\b(COUNT|MIN|MAX|SUM)\\s*\\(.*")) {
              StubAgg.run(sql, colsPart, data.schema, matching(clauses, data))
            } else {
              val wanted: Array[Int] =
                if (colsPart == "*") data.schema.indices.toArray
                else {
                  val m = java.util.regex.Pattern.compile(identRe).matcher(colsPart)
                  val names = Iterator.continually(m).takeWhile(_.find()).map(unescape).toSeq
                  names.map(n => data.schema.fieldIndex(n)).toArray
                }
              // pushed pagination: `LIMIT n [OFFSET m]` or `OFFSET m ROWS`
              // — OFFSET skips first (SQL semantics), LIMIT caps the rest
              val limit = clauses.number("LIMIT")
              val offset = clauses.number("OFFSET")
              val projSchema = StructType(wanted.toSeq.map(data.schema.fields))
              // a `LIMIT 0` schema probe never reads the rows
              val rows =
                if (limit.contains(0)) Vector.empty[InternalRow]
                else {
                  val all = matching(clauses, data)
                  val shifted = offset.map(all.drop).getOrElse(all)
                  limit.map(shifted.take).getOrElse(shifted)
                }
              summaryRows.set((rows.size.toLong, -1L))
              val dictCols = lowCardCols.getOrDefault(name, Set.empty)
              // the stored rows encode directly: output column j reads
              // stored ordinal wanted(j)
              Right(ArrowCodec.encodeDict(projSchema, rows, dictCols, wanted))
            }
        }
    }

  /** The table's rows that pass the SELECT's WHERE, in its ORDER BY order
    * — the stored vector itself when there is neither. */
  private def matching(clauses: StubCHServer.SelectClauses, data: TableData): Vector[InternalRow] = {
    val where = clauses.body("WHERE")
    val unsorted =
      if (where.nonEmpty) data.rows.filter(StubWhere.compile(where, data.schema))
      else data.rows
    // pushed TopN arrives as ORDER BY ... LIMIT n — honor the sort
    val order = clauses.body("ORDER")
    if (order.nonEmpty) sortRows(unsorted, data.schema, order) else unsorted
  }

  /** Evaluate an `ORDER BY a [ASC|DESC] [NULLS FIRST|LAST], ...` clause —
    * the pushed-TopN sort the real server would perform. */
  private def sortRows(
      rows: Vector[InternalRow],
      schema: StructType,
      clause: String): Vector[InternalRow] = {
    val items = clause.split(",").map(_.trim).filter(_.nonEmpty).map { item =>
      val m = java.util.regex.Pattern
        .compile("(?i)^(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*))\\s*(ASC|DESC)?\\s*(?:NULLS\\s+(FIRST|LAST))?$")
        .matcher(item)
      require(m.matches(), s"cannot parse order item: $item")
      val name = Option(m.group(1)).getOrElse(m.group(2))
      val idx = schema.fieldIndex(name)
      val desc = Option(m.group(3)).exists(_.equalsIgnoreCase("DESC"))
      val nullsFirst = Option(m.group(4)).map(_.equalsIgnoreCase("FIRST")).getOrElse(!desc)
      (idx, schema.fields(idx).dataType, desc, nullsFirst)
    }
    def cmpVal(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Number, y: java.lang.Number) =>
        java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      case (x: org.apache.spark.unsafe.types.UTF8String,
            y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y)
      case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
      case _ => a.toString.compareTo(b.toString)
    }
    val ord = new Ordering[InternalRow] {
      override def compare(ra: InternalRow, rb: InternalRow): Int = {
        var i = 0
        while (i < items.length) {
          val (idx, dt, desc, nullsFirst) = items(i)
          val va = if (ra.isNullAt(idx)) null else ra.get(idx, dt)
          val vb = if (rb.isNullAt(idx)) null else rb.get(idx, dt)
          val c =
            if (va == null && vb == null) 0
            else if (va == null) { if (nullsFirst) -1 else 1 }
            else if (vb == null) { if (nullsFirst) 1 else -1 }
            else { val base = cmpVal(va, vb); if (desc) -base else base }
          if (c != 0) return c
          i += 1
        }
        0
      }
    }
    rows.sorted(ord)
  }

  private def showTables(): Either[String, Array[Byte]] =
    textColumn(tableNames)

  private def showDatabases(): Either[String, Array[Byte]] =
    textColumn(databaseNames)

  private def textColumn(values: Seq[String]): Either[String, Array[Byte]] = {
    val schema = StructType(Seq(org.apache.spark.sql.types.StructField(
      "name", org.apache.spark.sql.types.StringType, nullable = false)))
    val rows = values.map(n =>
      InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(n)))
    Right(ArrowCodec.encode(schema, rows.iterator))
  }

  /** `CREATE DATABASE [IF NOT EXISTS] db` — the namespace create. */
  private def createDatabase(sql: String): Either[String, Array[Byte]] =
    tableOf(sql, "DATABASE(?:\\s+IF\\s+NOT\\s+EXISTS)?") match {
      case None => Left(s"cannot parse create database in: $sql")
      case Some(name) => databases.add(name); Right(Array.empty)
    }

  /** `DROP DATABASE [IF EXISTS] db` — drops the namespace and every
    * table inside it (ClickHouse cascade semantics). */
  private def dropDatabase(sql: String): Either[String, Array[Byte]] =
    tableOf(sql, "DATABASE(?:\\s+IF\\s+EXISTS)?") match {
      case None => Left(s"cannot parse drop database in: $sql")
      case Some(name) =>
        databases.remove(name)
        Right(Array.empty)
    }

  /** Parse `CREATE TABLE t (col Type, ...) ENGINE ...` back through the
    * CHType parser into a stored schema. */
  private def createTable(sql: String): Either[String, Array[Byte]] =
    tableOf(sql, "TABLE(?:\\s+IF\\s+NOT\\s+EXISTS)?") match {
      case None => Left(s"cannot parse create target in: $sql")
      case Some(name) =>
        val open = sql.indexOf('(')
        var depth = 0
        var close = -1
        var i = open
        while (i < sql.length && close < 0) {
          if (sql(i) == '(') depth += 1
          if (sql(i) == ')') { depth -= 1; if (depth == 0) close = i }
          i += 1
        }
        if (open < 0 || close < 0) Left(s"cannot parse column list in: $sql")
        else {
          val colsText = sql.substring(open + 1, close)
          // split on top-level commas only (types contain nested commas)
          val parts = Vector.newBuilder[String]
          var d = 0; var start = 0
          colsText.zipWithIndex.foreach { case (c, idx) =>
            if (c == '(') d += 1
            if (c == ')') d -= 1
            if (c == ',' && d == 0) { parts += colsText.substring(start, idx); start = idx + 1 }
          }
          parts += colsText.substring(start)
          val fields = parts.result().map(_.trim).filter(_.nonEmpty).map { cdef =>
            val m = java.util.regex.Pattern.compile(s"^(?:$identRe)\\s+(.+)$$").matcher(cdef)
            require(m.find(), s"cannot parse column def: $cdef")
            val colName = unescape(m)
            val chType = graft.types.CHType.parse(m.group(3))
            graft.types.CHType.toSparkField(colName, chType)
          }
          tables.putIfAbsent(name, TableData(StructType(fields), Vector.empty))
          Right(Array.empty)
        }
    }

  private def dropTable(sql: String): Either[String, Array[Byte]] =
    tableOf(sql, "TABLE(?:\\s+IF\\s+EXISTS)?") match {
      case None => Left(s"cannot parse drop target in: $sql")
      case Some(name) => tables.remove(name); Right(Array.empty)
    }

  private def truncate(sql: String): Either[String, Array[Byte]] =
    tableOf(sql, "TABLE") match {
      case None => Left(s"cannot parse truncate target in: $sql")
      case Some(name) =>
        tables.computeIfPresent(name, (_, d) => d.copy(rows = Vector.empty))
        Right(Array.empty)
    }

  /** `ALTER TABLE t ADD/DROP/RENAME/MODIFY COLUMN ...` — column DDL
    * mutating the stored schema (ADD pads existing rows with NULL; MODIFY
    * widens Int32→Int64 values, other conversions null the column — the
    * lazy-mutation simplification). */
  private def alterColumn(sql: String): Either[String, Array[Byte]] = {
    val m = java.util.regex.Pattern
      .compile("(?is)ALTER\\s+TABLE\\s+\\S+\\s+(ADD|DROP|RENAME|MODIFY)\\s+COLUMN\\s+(.+)$")
      .matcher(sql)
    if (!m.find()) return Left(s"cannot parse column DDL: $sql")
    val op = m.group(1).toUpperCase
    val rest = m.group(2).trim
    def unq(s: String): String = s.trim.stripPrefix("`").stripSuffix("`")
    tableOf(sql, "TABLE") match {
      case None => Left(s"cannot parse alter target in: $sql")
      case Some(name) =>
        Option(tables.get(name)) match {
          case None => Left(s"Code: 60. DB::Exception: Table $name doesn't exist. (UNKNOWN_TABLE)")
          case Some(data) =>
            val next: Either[String, TableData] = op match {
              case "ADD" =>
                val p = rest.split("\\s+", 2)
                if (p.length < 2) Left(s"ADD COLUMN needs a type: $rest")
                else {
                  val f = graft.types.CHType.toSparkField(unq(p(0)),
                    graft.types.CHType.parse(p(1).trim))
                  Right(TableData(
                    StructType(data.schema.fields :+ f),
                    data.rows.map(r => InternalRow.fromSeq(
                      data.schema.indices.map(i =>
                        r.get(i, data.schema.fields(i).dataType)) :+ null))))
                }
              case "DROP" =>
                val idx = data.schema.fieldIndex(unq(rest))
                Right(TableData(
                  StructType(data.schema.fields.patch(idx, Nil, 1)),
                  data.rows.map(r => InternalRow.fromSeq(
                    data.schema.indices.filter(_ != idx).map(i =>
                      r.get(i, data.schema.fields(i).dataType))))))
              case "RENAME" =>
                val p = rest.split("(?i)\\s+TO\\s+")
                if (p.length != 2) Left(s"RENAME COLUMN needs TO: $rest")
                else {
                  val idx = data.schema.fieldIndex(unq(p(0)))
                  Right(data.copy(schema = StructType(data.schema.fields.updated(idx,
                    data.schema.fields(idx).copy(name = unq(p(1)))))))
                }
              case "MODIFY" =>
                val p = rest.split("\\s+", 2)
                val idx = data.schema.fieldIndex(unq(p(0)))
                val newF = graft.types.CHType.toSparkField(unq(p(0)),
                  graft.types.CHType.parse(p(1).trim))
                val oldT = data.schema.fields(idx).dataType
                def conv(v: Any): Any = (oldT, newF.dataType) match {
                  case (a, b) if a == b => v
                  case (IntegerType, LongType) => if (v == null) null else v.asInstanceOf[Int].toLong
                  case (LongType, DoubleType) => if (v == null) null else v.asInstanceOf[Long].toDouble
                  case _ => null
                }
                Right(TableData(
                  StructType(data.schema.fields.updated(idx, newF)),
                  data.rows.map { r =>
                    InternalRow.fromSeq(data.schema.indices.map { i =>
                      val v = r.get(i, data.schema.fields(i).dataType)
                      if (i == idx) conv(v) else v
                    })
                  }))
              case other => Left(s"unsupported column DDL op $other")
            }
            next match {
              case Left(e) => Left(e)
              case Right(d) => tables.put(name, d); Right(Array.empty)
            }
        }
    }
  }

  /** `ALTER TABLE t UPDATE a = lit, … WHERE <cond>` — the ClickHouse
    * update mutation; matching rows are rewritten in place. */
  private def alterUpdate(sql: String): Either[String, Array[Byte]] =
    tableOf(sql, "TABLE") match {
      case None => Left(s"cannot parse alter target in: $sql")
      case Some(name) =>
        val m = java.util.regex.Pattern
          .compile("(?i)\\sUPDATE\\s(.*?)\\sWHERE\\s(.*)$", java.util.regex.Pattern.DOTALL)
          .matcher(sql)
        if (!m.find()) Left(s"cannot parse UPDATE … WHERE in: $sql")
        else {
          tables.computeIfPresent(name, (_, d) => {
            val rewrite = StubWhere.compileAssignments(m.group(1), d.schema)
            val pred = StubWhere.compile(m.group(2), d.schema)
            d.copy(rows = d.rows.map(r => if (pred(r)) rewrite(r) else r))
          })
          Right(Array.empty)
        }
    }

  /** `RENAME TABLE a TO b` — the catalog rename. */
  private def renameTable(sql: String): Either[String, Array[Byte]] = {
    val from = tableOf(sql, "TABLE")
    val to = tableOf(sql, "TO")
    (from, to) match {
      case (Some(a), Some(b)) =>
        Option(tables.remove(a)) match {
          case Some(d) => tables.put(b, d); Right(Array.empty)
          case None => Left(s"no such table: $a")
        }
      case _ => Left(s"cannot parse rename in: $sql")
    }
  }

  /** `ALTER TABLE t DELETE WHERE <cond>` — the ClickHouse mutation; rows
    * matching the condition are removed (same WHERE grammar as scans). */
  private def alterDelete(sql: String): Either[String, Array[Byte]] =
    tableOf(sql, "TABLE") match {
      case None => Left(s"cannot parse alter target in: $sql")
      case Some(name) =>
        val m = java.util.regex.Pattern
          .compile("(?i)\\sDELETE\\s+WHERE\\s(.*)$", java.util.regex.Pattern.DOTALL)
          .matcher(sql)
        if (!m.find()) Left(s"cannot parse DELETE WHERE in: $sql")
        else {
          tables.computeIfPresent(name, (_, d) => {
            val pred = StubWhere.compile(m.group(1), d.schema)
            d.copy(rows = d.rows.filterNot(pred))
          })
          Right(Array.empty)
        }
    }
}

object StubCHServer {
  private val clauseWords = Set("SELECT", "FROM", "WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET")

  /** The top-level clauses of a pushed SELECT, found in one lexer walk:
    * a keyword inside a string literal is text, never a clause. */
  private final class SelectClauses(sql: String) {
    private val starts = {
      val found = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Int)]
      val w = new SqlLexer.Walk(sql)
      while (w.nextCode()) if (w.depth == 0 && w.kind == SqlLexer.Word) {
        val kw = w.upper
        if (clauseWords(kw) && !found.contains(kw)) {
          // GROUP BY / ORDER BY: the body starts after BY
          val from =
            if (kw == "GROUP" || kw == "ORDER") SqlLexer.nextWord(sql, w.end)._2
            else w.end
          found(kw) = (w.start, from)
        }
      }
      found
    }

    /** The clause's text up to the next clause, trimmed; "" when absent. */
    def body(kw: String): String = starts.get(kw).fold("") { case (_, from) =>
      val end = starts.valuesIterator.map(_._1).filter(_ > from).foldLeft(sql.length)(math.min)
      sql.substring(from, end).trim
    }

    /** The count a LIMIT / OFFSET clause starts with. */
    def number(kw: String): Option[Int] =
      Some(body(kw).takeWhile(Character.isDigit)).filter(_.nonEmpty).map(_.toInt)
  }

  /** [[StubCHServer.load]] cap: sf1-fixture headroom, far below
    * driver-heap danger — the stub is a test harness, not an endpoint. */
  val MaxFixtureRows: Int = 2000000
}
