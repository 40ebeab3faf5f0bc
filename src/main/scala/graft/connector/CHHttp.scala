package graft.connector

import java.io.{InputStream, OutputStream}
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets

/** Minimal HTTP transport for the connector — the Spark-side counterpart
  * of the reference's HTTP channel (`clickhouse-arrow/src/http/
  * client.rs:22-219`): queries go out as `POST ?query=<sql>` with
  * `FORMAT ArrowStream` appended, results come back as an Arrow IPC
  * stream (`src/http/arrow_stream.rs:17-64`); inserts POST the IPC bytes
  * as the request body. Plain `java.net` — executors need no extra deps.
  *
  * Wire compression (A7; reference compresses every block by default,
  * `src/compression.rs:25-200`, HTTP `enable_compression`
  * `src/http/client.rs:32`): the `codec` parameter selects
  * `gzip`/`zstd`/`lz4`/`none`. Requests carry `Content-Encoding`,
  * responses are negotiated via `Accept-Encoding` +
  * `enable_http_compression=1` (the ClickHouse HTTP contract). gzip and
  * zstd use standard frames a real server speaks natively; lz4 uses
  * ClickHouse's OWN frame format ([[CHLz4]]: CityHash128 checksum +
  * method/sizes header + raw LZ4 block — the reference's
  * compression.rs:1-10 layout), checksum-verified per frame. Codec
  * classes come from jars Spark already ships (java.util.zip, zstd-jni,
  * lz4-java for the raw block kernel).
  */
object CHHttp {

  val NoCodec = "none"

  /** Wrap a stream in the named decompressor. */
  def wrapIn(in: InputStream, codec: String): InputStream = codec match {
    case null | "" | NoCodec => in
    case "gzip" => new java.util.zip.GZIPInputStream(in, 1 << 16)
    case "zstd" => new com.github.luben.zstd.ZstdInputStream(in)
    case "lz4" => new CHLz4.FramedInputStream(in)
    case other => throw new IllegalArgumentException(s"unknown compression codec: $other")
  }

  /** Wrap a stream in the named compressor. */
  def wrapOut(out: OutputStream, codec: String): OutputStream = codec match {
    case null | "" | NoCodec => out
    case "gzip" => new java.util.zip.GZIPOutputStream(out, 1 << 16)
    case "zstd" => new com.github.luben.zstd.ZstdOutputStream(out)
    case "lz4" => new CHLz4.FramedOutputStream(out)
    case other => throw new IllegalArgumentException(s"unknown compression codec: $other")
  }

  private def open(
      url: String, sql: String, codec: String = NoCodec,
      settings: Seq[(String, String)] = Nil,
      auth: CHAuth): HttpURLConnection = {
    val q = URLEncoder.encode(sql, StandardCharsets.UTF_8)
    val compressParam = if (codec == NoCodec) "" else "&enable_http_compression=1"
    // per-query server settings ride as URL params — the ClickHouse HTTP
    // contract for A15 (reference sends settings with each query,
    // `src/client.rs:643` query options; HTTP channel `http/client.rs`)
    val settingParams = settings.map { case (k, v) =>
      s"&${URLEncoder.encode(k, StandardCharsets.UTF_8)}=${URLEncoder.encode(v, StandardCharsets.UTF_8)}"
    }.mkString
    // http:// and https:// both resolve here (HttpsURLConnection <:
    // HttpURLConnection); auth applies credential headers + TLS config
    // (reference default_headers, `http/client.rs:44-66`)
    val conn = URI.create(s"$url/?query=$q$compressParam$settingParams").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(300000)
    auth.configure(conn)
    conn
  }

  private def failIfError(conn: HttpURLConnection, sql: String): Unit = {
    val code = conn.getResponseCode
    if (code != 200) {
      val err = Option(conn.getErrorStream)
        .map(s => new String(s.readAllBytes(), StandardCharsets.UTF_8)).getOrElse("")
      // typed surface: code/name/severity parsed from the CH error body
      throw CHError.parse(code, sql, err)
    }
  }

  /** Bounded retry for idempotent requests: severity-classified transient
    * failures (Server/Protocol — timeouts, overload, network) and
    * connect-level IO errors re-attempt with linear backoff; deterministic
    * Query/Syntax/Data errors surface immediately (re-running those just
    * repeats the failure). Reads only — an insert body is already
    * streamed when the status arrives, so the write path NEVER retries
    * here (task-level retry + staging overwrite own that story).
    */
  private val maxRetries = 2

  private def withRetry[T](attempt: () => T): T = {
    var tries = 0
    while (true) {
      try return attempt()
      catch {
        case e: CHServerException if e.retryable && tries < maxRetries =>
          tries += 1
          Thread.sleep(50L * tries)
        case _: java.net.ConnectException if tries < maxRetries =>
          tries += 1
          Thread.sleep(50L * tries)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** SELECT returning the response body as an Arrow IPC stream. */
  def queryArrow(
      url: String, sql: String, codec: String = NoCodec,
      settings: Seq[(String, String)] = Nil,
      auth: CHAuth = CHAuth.none): InputStream =
    queryArrowWithSummary(url, sql, codec, settings, auth)._1

  /** Server progress counters from the `X-ClickHouse-Summary` response
    * header (A17 on the HTTP channel; the reference's Progress events,
    * `native/progress.rs:6-14`, ride this header over HTTP). */
  final case class Summary(readRows: Long, writtenRows: Long)

  private val summaryField = java.util.regex.Pattern.compile("\"(read_rows|written_rows)\"\\s*:\\s*\"?(\\d+)\"?")

  def parseSummary(header: String): Summary = {
    var read = -1L; var written = -1L
    val m = summaryField.matcher(header)
    while (m.find()) m.group(1) match {
      case "read_rows" => read = m.group(2).toLong
      case "written_rows" => written = m.group(2).toLong
    }
    Summary(read, written)
  }

  /** [[queryArrow]] plus the parsed summary header (absent → counters -1). */
  def queryArrowWithSummary(
      url: String, sql: String, codec: String = NoCodec,
      settings: Seq[(String, String)] = Nil,
      auth: CHAuth = CHAuth.none): (InputStream, Summary) =
    withRetry { () =>
      val conn = open(url, s"$sql FORMAT ArrowStream", codec, settings, auth)
      if (codec != NoCodec) conn.setRequestProperty("Accept-Encoding", codec)
      conn.setDoOutput(true)
      conn.getOutputStream.close()
      failIfError(conn, sql)
      val enc = Option(conn.getHeaderField("Content-Encoding")).getOrElse(NoCodec)
      val summary = Option(conn.getHeaderField("X-ClickHouse-Summary"))
        .map(parseSummary).getOrElse(Summary(-1L, -1L))
      (wrapIn(conn.getInputStream, enc), summary)
    }

  /** INSERT: IPC bytes produced by `body` stream out as the request body
    * (single deferred flush, like `client/internal.rs:482-535`). */
  def insertArrow(
      url: String, insertSql: String, body: OutputStream => Unit, codec: String = NoCodec,
      auth: CHAuth = CHAuth.none): Unit = {
    val conn = openInsert(url, insertSql, codec, auth = auth)
    val out = insertStream(conn, codec)
    try body(out) finally out.close()
    finishInsert(conn, insertSql)
  }

  /** Open a chunked INSERT connection whose request `OutputStream` the
    * caller writes incrementally — nothing buffers beyond the 1 MiB chunk,
    * so an arbitrarily large partition streams through constant memory.
    * Obtain the (possibly compressing) stream via [[insertStream]], close
    * it, then call [[finishInsert]].
    */
  def openInsert(
      url: String, insertSql: String, codec: String = NoCodec,
      settings: Seq[(String, String)] = Nil,
      auth: CHAuth = CHAuth.none): HttpURLConnection = {
    val conn = open(url, s"$insertSql FORMAT ArrowStream", codec, settings, auth)
    conn.setDoOutput(true)
    conn.setChunkedStreamingMode(1 << 20)
    if (codec != NoCodec) conn.setRequestProperty("Content-Encoding", codec)
    conn
  }

  /** The request body stream for an [[openInsert]] connection, wrapped in
    * the insert codec. Closing it finishes the compression frame. */
  def insertStream(conn: HttpURLConnection, codec: String = NoCodec): OutputStream =
    wrapOut(conn.getOutputStream, codec)

  /** Complete an [[openInsert]] request: check the response status. */
  def finishInsert(conn: HttpURLConnection, insertSql: String): Unit = {
    failIfError(conn, insertSql)
    conn.getInputStream.close()
  }

  // ---- A22 cloud wakeup (reference `client/cloud.rs:20-82`): a
  // sleeping ClickHouse Cloud instance wakes when its /ping endpoint is
  // hit; the reference fires a once-per-process wakeup with a 300 s
  // patience window (CLOUD_WAKEUP_TIMEOUT) before connecting. The
  // Spark-side surface is the `wakeOnConnect=true` option: ping with
  // exponential backoff until the endpoint answers, remembered per
  // (JVM, endpoint) like the reference's CLOUD_START tracker so every
  // later connect is free.

  private val wokenEndpoints = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** GET `/ping` → 200 "Ok." (ClickHouse's health endpoint — A21's HTTP
    * face; auth config still applies for TLS/headers). False on any
    * error or non-200, never throws. */
  def ping(url: String, auth: CHAuth = CHAuth.none): Boolean =
    try {
      val conn = URI.create(s"$url/ping").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("GET")
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(10000)
      auth.configure(conn)
      val code = conn.getResponseCode
      val s = if (code >= 400) conn.getErrorStream else conn.getInputStream
      if (s != null) { s.readAllBytes(); s.close() }
      code == 200
    } catch { case _: java.io.IOException => false }

  /** Ping-until-awake with exponential backoff (200 ms → 5 s); true once
    * the endpoint answers within `timeoutMs`. Woken endpoints are
    * remembered per JVM. */
  def wakeup(url: String, auth: CHAuth = CHAuth.none, timeoutMs: Long = 300000L): Boolean = {
    if (wokenEndpoints.contains(url)) return true
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var delay = 200L
    var ok = ping(url, auth)
    while (!ok && System.nanoTime() < deadline) {
      Thread.sleep(delay)
      delay = math.min(delay * 2, 5000L)
      ok = ping(url, auth)
    }
    if (ok) wokenEndpoints.add(url)
    ok
  }

  /** DDL / commands with no result set. */
  def execute(url: String, sql: String, auth: CHAuth = CHAuth.none): Unit = {
    val conn = open(url, sql, auth = auth)
    conn.setDoOutput(true)
    conn.getOutputStream.close()
    failIfError(conn, sql)
    conn.getInputStream.close()
  }

  /** Schema probe: `SELECT * ... LIMIT 0` and read the IPC header —
    * the reference's zero-row header block (`client/reader.rs:58`). */
  def fetchSchema(url: String, table: String, database: Option[String],
      auth: CHAuth = CHAuth.none): org.apache.spark.sql.types.StructType = {
    val sql = s"SELECT * FROM ${CHSql.tableRef(table, database)} LIMIT 0"
    val in = queryArrow(url, sql, auth = auth)
    try ArrowCodec.readSchema(in.readAllBytes())
    finally in.close()
  }

  /** `SHOW TABLES` — one Utf8 column of names (A14 equivalent,
    * `src/client.rs:2263-2414`). */
  def listTables(url: String, database: Option[String],
      auth: CHAuth = CHAuth.none): Seq[String] = {
    val sql = database.map(d => s"SHOW TABLES FROM ${CHSql.ident(d)}").getOrElse("SHOW TABLES")
    singleTextColumn(url, sql, auth)
  }

  /** `SHOW DATABASES` — the namespace listing (reference
    * `src/client.rs:2263` fetch_schemas spans all databases). */
  def listDatabases(url: String, auth: CHAuth = CHAuth.none): Seq[String] =
    singleTextColumn(url, "SHOW DATABASES", auth)

  private def singleTextColumn(url: String, sql: String, auth: CHAuth): Seq[String] = {
    val in = queryArrow(url, sql, auth = auth)
    try {
      val (_, rows) = ArrowCodec.decode(in.readAllBytes())
      rows.map(_.getUTF8String(0).toString)
    } finally in.close()
  }
}
