package graft.settings

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.functions.{col, lit, map}

/** Declared A15 capability: a query whose predicate arrives as a BOUND
  * parameter (never interpolated into the SQL text), oracle-checked. */
object SettingsQueries extends QueryRegistry {

  /** Drop a managed test table AND its warehouse directory: the
    * in-memory catalog forgets tables across JVMs while the managed
    * location persists, so a bare `DROP TABLE IF EXISTS` in a fresh
    * session no-ops and the next CREATE dies with
    * LOCATION_ALREADY_EXISTS. Only ever pointed at the ch_ddl_* names
    * these queries own. */
  private def resetManagedTable(s: org.apache.spark.sql.SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir"))
    val dir = java.nio.file.Paths.get(
      if (wh.getScheme == null) wh.toString else wh.getPath).resolve(name)
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      // Files.walk holds directory handles until the stream closes —
      // collect inside Using so no descriptor leaks per ch_ddl_* run.
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { st =>
        st.iterator().asScala.toSeq.reverse
      }.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "a15_params_bound",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_params_v")
        Params.sql(s,
          """SELECT o_orderkey, o_custkey, o_totalprice FROM orders_params_v
            |WHERE o_totalprice > :minPrice AND o_orderpriority = :prio
            |ORDER BY o_orderkey""".stripMargin,
          Map("minPrice" -> 250000.0, "prio" -> "1-URGENT"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_totalprice > 250000.0 AND o_orderpriority = '1-URGENT'
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- array-typed bound parameter in an IN-style predicate — the
    // reference's flagship param case (`{ids:Array(Int32)} IN`, its
    // issue-#52 e2e `tests/tests/params.rs:219`); Spark-side the array
    // binds as one literal and `array_contains` is the IN form ----
    QueryDef(
      "a15_params_array",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_params_v")
        Params.sql(s,
          """SELECT o_orderkey, o_custkey FROM orders_params_v
            |WHERE array_contains(:keys, o_orderkey % 10)
            |ORDER BY o_orderkey""".stripMargin,
          Map("keys" -> Array(1L, 3L, 5L)))
      },
      Some("""SELECT o_orderkey, o_custkey FROM orders
             |WHERE list_contains([1, 3, 5], o_orderkey % 10)
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- SQL-text entry point: the reference's primary UX is shipping
    // a SQL string (`client.rs:643 query_raw`); here the same string runs
    // through Catalyst end-to-end over registered views — a TPC-H Q3
    // shape with join + agg + sort, proving the text path exercises the
    // full optimizer (pushdown, join selection) like the DataFrame path.
    QueryDef(
      "b_sql1_text_query",
      (s, d) => {
        Tables.t(s, d, "customer").createOrReplaceTempView("customer_sql_v")
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_sql_v")
        Tables.t(s, d, "lineitem").createOrReplaceTempView("lineitem_sql_v")
        s.sql(
          """SELECT l_orderkey,
            |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
            |  date_format(o_orderdate, 'yyyy-MM-dd') AS odate
            |FROM customer_sql_v
            |JOIN orders_sql_v ON c_custkey = o_custkey
            |JOIN lineitem_sql_v ON l_orderkey = o_orderkey
            |WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
            |GROUP BY l_orderkey, o_orderdate
            |ORDER BY revenue DESC, l_orderkey
            |LIMIT 20""".stripMargin)
      },
      Some("""SELECT l_orderkey,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  strftime(o_orderdate, '%Y-%m-%d') AS odate
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue DESC, l_orderkey
             |LIMIT 20""".stripMargin)),

    // ---- CREATE FUNCTION (CH SQL UDFs: `CREATE FUNCTION f AS (x) ->
    // ...`): Spark 4's native SQL scalar UDFs. The function body is a
    // plain expression, so Catalyst INLINES it — the call sites below
    // codegen exactly like the hand-written arithmetic; no interpreter
    // boundary, unlike a Scala closure UDF. Oracle expands the macro by
    // hand (the capability under test is the registration surface). ----
    QueryDef(
      "b_sql2_create_function",
      (s, d) => {
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_discounted(
                |  p DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS DOUBLE
                |RETURN p * (1 - disc) * (1 + tax)""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_tier(q DOUBLE)
                |RETURNS STRING
                |RETURN CASE WHEN q < 10 THEN 'S' WHEN q < 30 THEN 'M' ELSE 'L' END"""
          .stripMargin)
        Tables.t(s, d, "lineitem").createOrReplaceTempView("lineitem_fn_v")
        s.sql(
          """SELECT graft_tier(l_quantity) AS tier,
            |  round(sum(graft_discounted(l_extendedprice, l_discount, l_tax)), 2)
            |    AS charge,
            |  count(*) AS n
            |FROM lineitem_fn_v GROUP BY graft_tier(l_quantity)""".stripMargin)
      },
      Some("""SELECT CASE WHEN l_quantity < 10 THEN 'S'
             |            WHEN l_quantity < 30 THEN 'M' ELSE 'L' END AS tier,
             |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS charge,
             |  count(*) AS n
             |FROM lineitem
             |GROUP BY CASE WHEN l_quantity < 10 THEN 'S'
             |              WHEN l_quantity < 30 THEN 'M' ELSE 'L' END""".stripMargin)),

    // ---- GROUP BY ALL (CH and Spark 3.4+/DuckDB all support the same
    // shorthand: group on every non-aggregate select item) ----
    QueryDef(
      "b_sql3_group_by_all",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_gba_v")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  count(*) AS n, round(sum(o_totalprice), 2) AS total
                |FROM orders_gba_v GROUP BY ALL""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  count(*) AS n, round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY ALL""".stripMargin)),

    // ---- CH SQL dialect end-to-end: a query written entirely in
    // ClickHouse function spellings (countIf/sumIf/uniqExact/intDiv/
    // toYYYYMM/toInt64) runs unmodified through spark.sql — the
    // ChDialect aliases resolve onto built-in codegen'd expressions.
    // Oracle states the same semantics in DuckDB-native SQL. ----
    QueryDef(
      "b_sql4_ch_dialect",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_chd_v")
        s.sql(
          """SELECT toYYYYMM(o_orderdate) AS ym,
            |  countIf(o_orderpriority = '1-URGENT') AS urgent,
            |  round(sumIf(o_totalprice, o_orderstatus = 'F'), 2) AS f_total,
            |  toInt64(uniqExact(intDiv(o_custkey, 100))) AS cust_buckets
            |FROM orders_chd_v
            |GROUP BY toYYYYMM(o_orderdate)
            |ORDER BY ym""".stripMargin)
      },
      Some("""SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS ym,
             |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
             |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS f_total,
             |  CAST(count(DISTINCT o_custkey // 100) AS BIGINT) AS cust_buckets
             |FROM orders
             |GROUP BY 1 ORDER BY ym""".stripMargin)),

    // ---- CH dialect, wide surface: multiIf / countIf / avgIf /
    // JSONExtractInt / toRelativeMonthNum / uniqExact over events ----
    QueryDef(
      "b_sql5_ch_dialect_wide",
      (s, d) => {
        Tables.t(s, d, "events").createOrReplaceTempView("events_chd5_v")
        s.sql(
          """SELECT toInt64(toRelativeMonthNum(ts)) AS ym,
            |  multiIf(event_type = 'purchase', 'buy',
            |          event_type = 'click', 'engage', 'other') AS kind,
            |  count(*) AS n,
            |  countIf(JSONExtractInt(props, 'k') > 50) AS k_hi,
            |  round(avgIf(value, value > 0), 2) AS avg_pos,
            |  toInt64(uniqExact(user_id)) AS users
            |FROM events_chd5_v
            |GROUP BY 1, 2
            |ORDER BY ym, kind""".stripMargin)
      },
      Some("""SELECT CAST(year(ts) * 12 + month(ts) AS BIGINT) AS ym,
             |  CASE WHEN event_type = 'purchase' THEN 'buy'
             |       WHEN event_type = 'click' THEN 'engage'
             |       ELSE 'other' END AS kind,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(*) FILTER (
             |    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50) AS BIGINT) AS k_hi,
             |  round(avg(value) FILTER (WHERE value > 0), 2) AS avg_pos,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
             |FROM events
             |GROUP BY 1, 2 ORDER BY ym, kind""".stripMargin)),

    // ---- CH dialect, lambda-first higher-order array functions
    // (arrayCount / arrayFilter / arrayUniq / splitByChar) ----
    QueryDef(
      "b_sql6_ch_dialect_arrays",
      (s, d) => {
        Tables.t(s, d, "documents").createOrReplaceTempView("documents_chd6_v")
        s.sql(
          """SELECT doc_id,
            |  toInt64(arrayCount(x -> x <> '', splitByChar(' ', text))) AS words,
            |  toInt64(arrayUniq(arrayFilter(x -> lengthUTF8(x) > 3,
            |                                splitByChar(' ', text)))) AS long_uniq
            |FROM documents_chd6_v
            |ORDER BY doc_id""".stripMargin)
      },
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS words,
             |  CAST(len(list_distinct(list_filter(string_split(text, ' '),
             |                                     x -> length(x) > 3))) AS BIGINT) AS long_uniq
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ---- CH string-tokenizer dialect tier end-to-end ----
    QueryDef(
      "b_sql9_ch_dialect_strings",
      (s, d) => {
        Tables.t(s, d, "documents").createOrReplaceTempView("documents_chd9_v")
        s.sql(
          """SELECT doc_id,
            |  toInt64(countSubstrings(text, 'the')) AS the_n,
            |  toInt64(arrayUniq(alphaTokens(text))) AS uniq_alpha,
            |  toInt64(levenshteinDistance(source, 'web')) AS src_dist
            |FROM documents_chd9_v
            |ORDER BY doc_id""".stripMargin)
      },
      Some("""SELECT doc_id,
             |  CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS the_n,
             |  CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+'))) AS BIGINT) AS uniq_alpha,
             |  CAST(levenshtein(source, 'web') AS BIGINT) AS src_dist
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ---- CH parameterized-aggregate SYNTAX end-to-end: the injected
    // ChSqlParser rewrites `quantileExact(p)(x)` onto the registered
    // two-arg spelling before Spark's parser sees it ----
    QueryDef(
      "b_sql7_ch_param_agg",
      (s, d) => {
        Tables.t(s, d, "lineitem").createOrReplaceTempView("lineitem_chd7_v")
        s.sql(
          """SELECT l_returnflag,
            |  round(quantileExact(0.5)(l_quantity), 2) AS med_qty,
            |  round(quantileExact(0.9)(l_extendedprice), 2) AS p90_price
            |FROM lineitem_chd7_v
            |GROUP BY l_returnflag
            |ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_disc(l_quantity, 0.5), 2) AS med_qty,
             |  round(quantile_disc(l_extendedprice, 0.9), 2) AS p90_price
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- explicit GROUPING SETS (CH and Spark share the syntax;
    // rollup/cube are covered elsewhere — this is the free-form list) ----
    QueryDef(
      "b_agg47_grouping_sets",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_gs_v")
        s.sql(
          """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
            |  round(sum(o_totalprice), 2) AS total
            |FROM orders_gs_v
            |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
            |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),

    // ---- named WINDOW clause (CH `WINDOW w AS (...)` — shared frame
    // definition referenced by several window functions) ----
    QueryDef(
      "b_win10_named_window",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_nw_v")
        s.sql(
          """SELECT o_orderkey,
            |  rank() OVER w AS rnk,
            |  round(sum(o_totalprice) OVER w, 2) AS run_total
            |FROM orders_nw_v
            |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
            |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  rank() OVER w AS rnk,
             |  round(sum(o_totalprice) OVER w, 2) AS run_total
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- CH URL function family over synthesized crawl URLs; the
    // oracle states the expected parts by construction ----
    QueryDef(
      "b_sql8_ch_url",
      (s, d) => {
        import org.apache.spark.sql.functions._
        Tables.t(s, d, "documents")
          .select(col("doc_id"), concat(
            lit("https://docs.example.com/"), col("source"), lit("/"),
            col("doc_id").cast("string"),
            lit("?page="), (col("doc_id") % 10).cast("string"),
            lit("&utm_source=feed#s")).as("url"))
          .createOrReplaceTempView("urls_chd8_v")
        s.sql(
          """SELECT doc_id, domain(url) AS host, path(url) AS pth,
            |  extractURLParameter(url, 'page') AS page,
            |  cutQueryString(url) AS no_q
            |FROM urls_chd8_v
            |ORDER BY doc_id""".stripMargin)
      },
      Some("""SELECT doc_id, 'docs.example.com' AS host,
             |  '/' || source || '/' || CAST(doc_id AS VARCHAR) AS pth,
             |  CAST(doc_id % 10 AS VARCHAR) AS page,
             |  'https://docs.example.com/' || source || '/' ||
             |    CAST(doc_id AS VARCHAR) || '#s' AS no_q
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ---- CH `SETTINGS` clause in SQL text (reference passthrough
    // `src/query.rs:168-197` → `client.rs:643`; typed registry
    // `src/settings.rs:81-428`): the tail strips in the parser's rescue
    // pass, `join_algorithm='hash'` becomes a SHUFFLE_HASH strategy hint
    // on the named relations (per-query, like CH), and the remaining
    // keys apply through the A15 GraftSettings mapping. max_threads=32
    // is the session's configured parallelism restated — a no-op here,
    // proving the plumbing without perturbing later queries. ----
    QueryDef(
      "b_sql10_settings_clause",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_set_v")
        Tables.t(s, d, "lineitem").createOrReplaceTempView("lineitem_set_v")
        s.sql(
          """SELECT o_orderstatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
            |FROM lineitem_set_v JOIN orders_set_v ON l_orderkey = o_orderkey
            |GROUP BY o_orderstatus
            |SETTINGS join_algorithm = 'hash', max_threads = 32""".stripMargin)
      },
      Some("""SELECT o_orderstatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus""".stripMargin)),

    // ---- multi-array ARRAY JOIN (positional zip, CH semantics): the
    // rewrite drives posexplode off the first array and indexes the rest
    // with the shared position — one Generate over the fact, never a
    // cross product. DuckDB zips parallel unnests in the SELECT list. ----
    QueryDef(
      "b_sql11_array_join_multi",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_aj_v")
        s.sql(
          """SELECT o_orderkey, part, amt
            |FROM (SELECT o_orderkey,
            |        array('key', 'cust') AS tags,
            |        array(CAST(o_orderkey AS DOUBLE), CAST(o_custkey AS DOUBLE)) AS vals
            |      FROM orders_aj_v) t
            |ARRAY JOIN tags AS part, vals AS amt
            |ORDER BY o_orderkey, part""".stripMargin)
      },
      Some("""SELECT o_orderkey, unnest(['key', 'cust']) AS part,
             |  unnest([CAST(o_orderkey AS DOUBLE), CAST(o_custkey AS DOUBLE)]) AS amt
             |FROM orders
             |ORDER BY o_orderkey, part""".stripMargin)),

    // ---- CH `SAMPLE k` clause: deterministic md5-prefix sampling over
    // the table's registered sampling key (CH requires `SAMPLE BY` in
    // the DDL; the registry is our analog). floor(0.1·65536) = 0x1999 —
    // identical row set in any engine with a standard md5. ----
    QueryDef(
      "b_sql12_sample_clause",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_smp_v")
        graft.functions.ChSqlRewrite.registerSampleKey("orders_smp_v", "o_orderkey")
        s.sql(
          """SELECT o_orderkey, o_custkey, o_totalprice
            |FROM orders_smp_v SAMPLE 0.1
            |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '1999'
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- CH `PREWHERE` (scan-order optimization with plain-AND
    // semantics; Catalyst's pushdown plays the physical role) merges
    // into WHERE with both sides parenthesized — the OR on the WHERE
    // side proves precedence survives. Also exercises CH's zero-arg
    // `count()` spelling. ----
    QueryDef(
      "b_sql13_prewhere",
      (s, d) => {
        Tables.t(s, d, "lineitem").createOrReplaceTempView("lineitem_pw_v")
        s.sql(
          """SELECT l_returnflag, count() AS n, round(sum(l_extendedprice), 2) AS rev
            |FROM lineitem_pw_v
            |PREWHERE l_tax > 0.03
            |WHERE l_quantity > 10 OR l_discount > 0.05
            |GROUP BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem
             |WHERE (l_tax > 0.03) AND (l_quantity > 10 OR l_discount > 0.05)
             |GROUP BY l_returnflag""".stripMargin)),

    // ---- CH `FROM t FINAL` (ReplacingMergeTree read-time dedup): the
    // table opts in with its dedup key + version order (CH likewise
    // needs the engine's ORDER BY key), then FINAL rewrites to a
    // latest-version-per-key window subquery. ----
    QueryDef(
      "b_sql14_final",
      (s, d) => {
        Tables.t(s, d, "events").createOrReplaceTempView("events_fin_v")
        graft.functions.ChSqlRewrite.registerFinalKey(
          "events_fin_v", "user_id, event_type", "ts DESC, event_id DESC")
        s.sql(
          """SELECT user_id, event_type, event_id AS last_event, value AS last_value
            |FROM events_fin_v FINAL
            |ORDER BY user_id, event_type""".stripMargin)
      },
      Some("""SELECT user_id, event_type, event_id AS last_event, value AS last_value
             |FROM (SELECT user_id, event_type, event_id, value,
             |        row_number() OVER (PARTITION BY user_id, event_type
             |          ORDER BY ts DESC, event_id DESC) AS rn
             |      FROM events) WHERE rn = 1
             |ORDER BY user_id, event_type""".stripMargin)),

    // ---- CH `LIMIT n OFFSET o BY expr` in SQL text (B-TOPK1's textual
    // spelling): rewrites onto a row_number window ordered by the
    // query's own ORDER BY, with the ordering and the trailing plain
    // LIMIT re-applied outside. The API form (`LimitBy.limitBy`) is the
    // two-phase scale shape; this is the compatibility path. ----
    QueryDef(
      "b_sql15_limit_by",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_lb_v")
        s.sql(
          """SELECT o_orderpriority, o_orderkey, o_totalprice
            |FROM orders_lb_v
            |ORDER BY o_totalprice DESC, o_orderkey
            |LIMIT 3 OFFSET 1 BY o_orderpriority
            |LIMIT 10""".stripMargin)
      },
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders)
             |WHERE rn BETWEEN 2 AND 4
             |ORDER BY o_totalprice DESC, o_orderkey
             |LIMIT 10""".stripMargin)),

    // ---- CH `SELECT TOP n` (rescue tier: the phrase never parses in
    // Spark) → the same query with LIMIT n appended; subquery/WITH TIES/
    // LIMIT-combined shapes fail loudly (ChDialectSpec). ----
    QueryDef(
      "b_sql31_top",
      (s, d) => {
        Tables.t(s, d, "nation").createOrReplaceTempView("nation_top_v")
        s.sql(
          """SELECT TOP 5 n_name, n_regionkey
            |FROM nation_top_v
            |ORDER BY n_name""".stripMargin)
      },
      Some("""SELECT n_name, n_regionkey FROM nation
             |ORDER BY n_name LIMIT 5""".stripMargin)),

    // ---- standard-SQL `OFFSET ... FETCH FIRST ... ONLY` tail (CH
    // accepts it; Spark does not) → LIMIT/OFFSET via the rescue tier ----
    QueryDef(
      "b_sql32_fetch_first",
      (s, d) => {
        Tables.t(s, d, "customer").createOrReplaceTempView("customer_ff_v")
        s.sql(
          """SELECT c_custkey, c_name
            |FROM customer_ff_v
            |ORDER BY c_custkey
            |OFFSET 5 ROWS FETCH FIRST 10 ROWS ONLY""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |ORDER BY c_custkey LIMIT 10 OFFSET 5""".stripMargin)),

    // ---- CH `dateDiff('unit', s, e)` in SQL text → rescue rewrite onto
    // the toRelative*Num primitives (CH's own definition; boundary
    // counting, which DuckDB's date_diff shares) ----
    QueryDef(
      "b_sql33_datediff",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_dd_v")
        s.sql(
          """SELECT o_orderkey,
            |  dateDiff('month', o_orderdate, DATE '1998-12-31') AS m_to_end,
            |  dateDiff('day', o_orderdate, DATE '1998-12-31') AS d_to_end
            |FROM orders_dd_v FORMAT JSONEachRow""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  CAST(date_diff('month', o_orderdate, DATE '1998-12-31') AS INT) AS m_to_end,
             |  CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS INT) AS d_to_end
             |FROM orders""".stripMargin)),

    // ---- harvested from the reference test corpus (tests/tests/*.rs):
    // CH's PRIMARY param spelling `{name:Type}` (params.rs, query.rs) —
    // the rescue tier rewrites it onto Spark's named markers and the
    // engine binds the values; the SAME harvested predicate shapes
    // (`id = {filter_id:Int32}`, `name LIKE {pattern:String}`). ----
    QueryDef(
      "b_sql34_param_braces",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_bp_v")
        Params.sql(s,
          """SELECT o_orderkey, o_custkey, o_totalprice FROM orders_bp_v
            |WHERE o_totalprice > {min_total:Float64}
            |  AND o_orderpriority LIKE {pattern:String}
            |ORDER BY o_orderkey""".stripMargin,
          Map("min_total" -> 250000.0, "pattern" -> "1-%"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_totalprice > 250000.0 AND o_orderpriority LIKE '1-%'
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- harvested: `SELECT * FROM {table:Identifier}` (query.rs) —
    // identifier params substitute CLIENT-side (validated + quoted),
    // value params still bind engine-side in the same statement ----
    QueryDef(
      "b_sql35_param_identifier",
      (s, d) => {
        Tables.t(s, d, "supplier").createOrReplaceTempView("supplier_ip_v")
        Params.sql(s,
          """SELECT s_suppkey, s_name, s_acctbal FROM {t:Identifier}
            |WHERE s_acctbal > {min_bal:Float64} ORDER BY s_suppkey""".stripMargin,
          Map("t" -> "supplier_ip_v", "min_bal" -> 0.0))
      },
      Some("""SELECT s_suppkey, s_name, s_acctbal FROM supplier
             |WHERE s_acctbal > 0.0 ORDER BY s_suppkey""".stripMargin)),

    // ---- harvested: `SELECT id, m.key, m.value FROM t ARRAY JOIN
    // metrics AS m` (arrow.rs map case) — map ARRAY JOIN reads the
    // element as a (key, value) tuple; the rewrite emits the bare
    // generator alias so Spark's map explode surfaces exactly those
    // columns under it ----
    QueryDef(
      "b_sql36_map_array_join",
      (s, d) => {
        Tables.t(s, d, "nation")
          .select(col("n_nationkey").as("id"),
            map(lit("name"), col("n_name"),
              lit("region"), col("n_regionkey").cast("string")).as("metrics"))
          .createOrReplaceTempView("nation_mj_v")
        s.sql(
          """SELECT id, m.key, m.value FROM nation_mj_v
            |ARRAY JOIN metrics AS m
            |ORDER BY id, m.key""".stripMargin)
      },
      Some("""SELECT id, k AS "key", v AS "value" FROM (
             |  SELECT n_nationkey AS id, 'name' AS k, n_name AS v FROM nation
             |  UNION ALL
             |  SELECT n_nationkey, 'region', CAST(n_regionkey AS VARCHAR) FROM nation)
             |ORDER BY id, k""".stripMargin)),

    // ---- harvested: `SELECT number FROM system.numbers_mt LIMIT n`
    // (native.rs) — CH's multithreaded numbers spelling, same sequence ----
    QueryDef(
      "b_sql37_numbers_mt",
      (s, _) => s.sql("SELECT number FROM system.numbers_mt LIMIT 10"),
      Some("SELECT CAST(x AS BIGINT) AS number FROM range(10) t(x)")),

    // ---- round-8 dialect tail, the DuckDB-expressible subset (the
    // formatters/URL heuristics/bit rotates are spec-pinned instead —
    // printf half-even vs Java half-up rounding would make a float-
    // format oracle flaky): sub-day time arithmetic, yyyyMMddHHmmss
    // rendering, calendar names, gcd/lcm (StaticInvoke kernels),
    // power-of-2 floor, array fold + filter-count ----
    QueryDef(
      "b_sql40_dialect_tail",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_dt_v")
        s.sql(
          """SELECT o_orderkey,
            |  addHours(CAST(o_orderdate AS TIMESTAMP), 5) AS plus5h,
            |  subtractMinutes(CAST(o_orderdate AS TIMESTAMP), 90) AS minus90m,
            |  toYYYYMMDDhhmmss(CAST(o_orderdate AS TIMESTAMP)) AS ymdhms,
            |  dateName('weekday', o_orderdate) AS wd,
            |  dateName('month', o_orderdate) AS mn,
            |  gcd(o_orderkey, 36) AS g,
            |  lcm(o_orderkey % 7 + 1, 6) AS l,
            |  roundToExp2(o_orderkey % 1000 + 1) AS exp2,
            |  countEqual(array(1, CAST(o_custkey % 3 AS INT), 1), 1) AS ceq,
            |  arrayProduct(array(CAST(2 AS DOUBLE), CAST(o_orderkey % 5 + 1 AS DOUBLE))) AS aprod,
            |  transform(CAST(o_orderkey % 3 AS INT), array(0, 1), array('zero', 'one'), 'many') AS tr
            |FROM orders_dt_v WHERE o_orderkey % 17 = 0""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  CAST(o_orderdate AS TIMESTAMP) + INTERVAL 5 HOUR AS plus5h,
             |  CAST(o_orderdate AS TIMESTAMP) - INTERVAL 90 MINUTE AS minus90m,
             |  CAST(strftime(CAST(o_orderdate AS TIMESTAMP), '%Y%m%d%H%M%S') AS BIGINT) AS ymdhms,
             |  dayname(CAST(o_orderdate AS DATE)) AS wd,
             |  monthname(CAST(o_orderdate AS DATE)) AS mn,
             |  gcd(o_orderkey, 36) AS g,
             |  lcm(o_orderkey % 7 + 1, 6) AS l,
             |  CAST(1 AS BIGINT) << CAST(floor(log2(o_orderkey % 1000 + 1)) AS INT) AS exp2,
             |  CAST(len(list_filter([1, CAST(o_custkey % 3 AS INT), 1], y -> y = 1)) AS BIGINT) AS ceq,
             |  list_product([CAST(2 AS DOUBLE), CAST(o_orderkey % 5 + 1 AS DOUBLE)]) AS aprod,
             |  CASE o_orderkey % 3 WHEN 0 THEN 'zero' WHEN 1 THEN 'one' ELSE 'many' END AS tr
             |FROM orders WHERE o_orderkey % 17 = 0""".stripMargin)),

    // ---- LATERAL LIMIT-k probe (top-k matches per left row): the
    // AsofLateralRule window path — row_number over one equi-driven
    // join, never Spark's domain-nested-loop decorrelation. The sort is
    // deliberately mixed-direction (price DESC, linenumber ASC) and
    // unique per order, so both engines pick identical rows. ----
    QueryDef(
      "b_sql41_lateral_topk",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_lk_v")
        Tables.t(s, d, "lineitem").createOrReplaceTempView("lineitem_lk_v")
        s.sql(
          """SELECT o.o_orderkey, r.l_linenumber, r.l_extendedprice
            |FROM orders_lk_v o
            |LEFT JOIN LATERAL (
            |  SELECT l_linenumber, l_extendedprice FROM lineitem_lk_v l0
            |  WHERE l0.l_orderkey = o.o_orderkey
            |  ORDER BY l0.l_extendedprice DESC, l0.l_linenumber ASC LIMIT 2) r
            |WHERE o.o_orderkey % 13 = 0
            |ORDER BY o.o_orderkey, r.l_linenumber""".stripMargin)
      },
      Some("""SELECT o_orderkey, l_linenumber, l_extendedprice FROM (
             |  SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice,
             |    row_number() OVER (PARTITION BY o.o_orderkey
             |      ORDER BY l.l_extendedprice DESC, l.l_linenumber ASC) AS rn
             |  FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |  WHERE o.o_orderkey % 13 = 0)
             |WHERE rn <= 2
             |ORDER BY o_orderkey, l_linenumber""".stripMargin)),

    // ---- CH `GROUP BY ... WITH TOTALS` in SQL text → GROUPING SETS
    // ((keys), ()): the totals row carries NULL keys, matching the
    // convention the API form (b_agg11_with_totals) established. ----
    QueryDef(
      "b_sql16_with_totals",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_tot_v")
        s.sql(
          """SELECT o_orderpriority AS prio, count() AS n,
            |  round(sum(o_totalprice), 2) AS rev
            |FROM orders_tot_v
            |GROUP BY o_orderpriority WITH TOTALS""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS prio, count(*) AS n, round(sum(o_totalprice), 2) AS rev
             |FROM orders GROUP BY o_orderpriority
             |UNION ALL
             |SELECT NULL AS prio, count(*) AS n, round(sum(o_totalprice), 2) AS rev
             |FROM orders""".stripMargin)),

    // ---- CH `GLOBAL` distribution hints drop (Spark's planner owns
    // distribution): `GLOBAL LEFT JOIN` strips in the always-on pass
    // (it parses as an alias otherwise), `GLOBAL IN` in the rescue pass
    // — this query needs both tiers to compose. ----
    QueryDef(
      "b_sql17_global",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_gl_v")
        Tables.t(s, d, "customer").createOrReplaceTempView("customer_gl_v")
        s.sql(
          """SELECT c_mktsegment, count() AS n
            |FROM orders_gl_v GLOBAL LEFT JOIN customer_gl_v ON o_custkey = c_custkey
            |WHERE o_custkey GLOBAL IN (SELECT c_custkey FROM customer_gl_v
            |                           WHERE c_acctbal > 0)
            |GROUP BY c_mktsegment""".stripMargin)
      },
      Some("""SELECT c_mktsegment, count(*) AS n
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
             |GROUP BY c_mktsegment""".stripMargin)),

    // ---- CH `ASOF LEFT JOIN` in SQL text (the reference's users ship
    // this verbatim; DuckDB shares the spelling, so the oracle is the
    // SAME query): rewrites onto a correlated LATERAL latest-match
    // probe that Catalyst decorrelates into the b_jn7 window shape. ----
    QueryDef(
      "b_sql18_asof_join",
      (s, d) => {
        Tables.t(s, d, "events").createOrReplaceTempView("events_asof_v")
        s.sql(
          """SELECT e.event_id, e.user_id, p.event_id AS prior_purchase
            |FROM events_asof_v e
            |ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events_asof_v
            |                WHERE event_type = 'purchase') p
            |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin)
      },
      Some("""SELECT e.event_id, e.user_id, p.event_id AS prior_purchase
             |FROM events e
             |ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events
             |                WHERE event_type = 'purchase') p
             |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin)),

    // ---- CH `ANY LEFT JOIN` in SQL text: at most one right match per
    // left row. The right side here is unique per key (c_custkey), so
    // ANY coincides with the plain join and the oracle is exact; the
    // arbitrary-pick case is spec-bounded in ChDialectSpec. ----
    QueryDef(
      "b_sql19_any_join",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_any_v")
        Tables.t(s, d, "customer").createOrReplaceTempView("customer_any_v")
        s.sql(
          """SELECT o.o_orderkey, c.c_name
            |FROM orders_any_v o
            |ANY LEFT JOIN customer_any_v c ON o.o_custkey = c.c_custkey
            |ORDER BY o.o_orderkey""".stripMargin)
      },
      Some("""SELECT o.o_orderkey, c.c_name
             |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
             |ORDER BY o.o_orderkey""".stripMargin)),

    // ---- CH `ORDER BY ... WITH FILL FROM ... TO ...` in SQL text:
    // daily purchase counts on an integer day axis (day number keeps
    // the oracle engine-portable — DATE canonicalization differs). Fill
    // rows carry NULL counts on both engines; TO is exclusive. ----
    QueryDef(
      "b_sql20_with_fill",
      (s, d) => {
        Tables.t(s, d, "events").createOrReplaceTempView("events_fill_v")
        s.sql(
          """SELECT dayno, n FROM (
            |  SELECT CAST(datediff(to_date(ts), DATE '2024-01-01') AS BIGINT) AS dayno,
            |         count() AS n
            |  FROM events_fill_v WHERE event_type = 'purchase'
            |  GROUP BY datediff(to_date(ts), DATE '2024-01-01'))
            |ORDER BY dayno WITH FILL FROM 0 TO 46""".stripMargin)
      },
      Some("""SELECT coalesce(g.x, e.dayno) AS dayno, e.n
             |FROM generate_series(CAST(0 AS BIGINT), CAST(45 AS BIGINT)) g(x)
             |FULL JOIN (
             |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dayno,
             |         count(*) AS n
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1) e
             |ON e.dayno = g.x
             |ORDER BY dayno""".stripMargin)),

    // ---- CH `numbers(offset, count)` TVF → `range` with the column
    // renamed to CH's `number`; [offset, offset+count) half-open on
    // both engines. ----
    QueryDef(
      "b_sql21_numbers_tvf",
      (s, _) => s.sql(
        """SELECT number, number * number AS sq FROM numbers(3, 97)
          |WHERE number % 7 = 0 ORDER BY number""".stripMargin),
      Some("""SELECT x AS number, x * x AS sq FROM generate_series(3, 99) g(x)
             |WHERE x % 7 = 0 ORDER BY number""".stripMargin)),

    // ---- CH type names in CAST/:: text → the §1.2 Spark mapping
    // (UInt32 → BIGINT, LowCardinality(String) → STRING). floor() both
    // sides: Spark truncates double→int casts, DuckDB rounds. ----
    QueryDef(
      "b_sql22_ch_cast",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_cast_v")
        s.sql(
          """SELECT o_orderkey, CAST(floor(o_totalprice) AS UInt32) AS price_i,
            |  o_orderpriority::LowCardinality(String) AS prio
            |FROM orders_cast_v ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS price_i,
             |  CAST(o_orderpriority AS VARCHAR) AS prio
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- CH scalar `WITH expr AS name` (constants named before the
    // query, not subquery CTEs): rewrites to a one-row derived relation
    // CROSS JOINed into the FROM, so the names resolve everywhere at
    // the cost of a 1-row broadcast. ----
    QueryDef(
      "b_sql23_scalar_with",
      (s, d) => {
        Tables.t(s, d, "lineitem").createOrReplaceTempView("lineitem_w_v")
        s.sql(
          """WITH 0.05 AS min_disc, 30 AS qty_cap
            |SELECT l_returnflag, count() AS n,
            |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
            |FROM lineitem_w_v
            |WHERE l_discount >= min_disc AND l_quantity < qty_cap
            |GROUP BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
             |FROM lineitem
             |WHERE l_discount >= 0.05 AND l_quantity < 30
             |GROUP BY l_returnflag""".stripMargin)),

    // ---- CH first-match replace + polymorphic emptiness in SQL text.
    // DuckDB's regexp_replace is FIRST-match by default — the exact
    // replaceOne/replaceRegexpOne oracle. ----
    QueryDef(
      "b_sql24_replace_one",
      (s, d) => {
        Tables.t(s, d, "documents").createOrReplaceTempView("documents_rep_v")
        s.sql(
          """SELECT doc_id, replaceOne(text, 'the', '#') AS r1,
            |  replaceRegexpOne(text, '[0-9]+', 'N') AS r2,
            |  notEmpty(text) AS ne
            |FROM documents_rep_v ORDER BY doc_id""".stripMargin)
      },
      Some("""SELECT doc_id, regexp_replace(text, 'the', '#') AS r1,
             |  regexp_replace(text, '[0-9]+', 'N') AS r2,
             |  length(text) > 0 AS ne
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- WITH FILL ... INTERPOLATE in SQL text: fill rows carry the
    // last observed value forward (CH's default interpolation); the
    // b_fil2 windowed shape, reached from the clause grammar. All
    // source values are non-null, so last-original == last-non-null
    // and the DuckDB IGNORE NULLS window is an exact oracle. ----
    QueryDef(
      "b_sql25_fill_interpolate",
      (s, d) => {
        Tables.t(s, d, "events").createOrReplaceTempView("events_fi_v")
        s.sql(
          """SELECT dayno, v FROM (
            |  SELECT CAST(datediff(to_date(ts), DATE '2024-01-01') AS BIGINT) AS dayno,
            |         round(max(value), 4) AS v
            |  FROM events_fi_v WHERE event_type = 'purchase'
            |  GROUP BY datediff(to_date(ts), DATE '2024-01-01'))
            |ORDER BY dayno WITH FILL FROM 0 TO 46 INTERPOLATE (v)""".stripMargin)
      },
      Some("""WITH vals AS (
             |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dayno,
             |         round(max(value), 4) AS v
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
             |SELECT coalesce(g.x, v.dayno) AS dayno,
             |  last_value(v.v IGNORE NULLS) OVER (
             |    ORDER BY coalesce(g.x, v.dayno)
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
             |FROM generate_series(CAST(0 AS BIGINT), CAST(45 AS BIGINT)) g(x)
             |FULL JOIN vals v ON v.dayno = g.x
             |ORDER BY dayno""".stripMargin)),

    // ---- ASOF JOIN USING spelling: every column but the last is an
    // equality, the last is the backward (>=) match — DuckDB shares the
    // clause, so the SAME text is the oracle. ----
    QueryDef(
      "b_sql26_asof_using",
      (s, d) => {
        Tables.t(s, d, "events").createOrReplaceTempView("events_au_v")
        s.sql(
          """SELECT e.event_id, p.event_id AS prior_purchase
            |FROM events_au_v e
            |ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events_au_v
            |                WHERE event_type = 'purchase') p
            |USING (user_id, ts)""".stripMargin)
      },
      Some("""SELECT e.event_id, p.event_id AS prior_purchase
             |FROM events e
             |ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events
             |                WHERE event_type = 'purchase') p
             |USING (user_id, ts)""".stripMargin)),

    // ---- CH `* REPLACE (expr AS col)` star modifier in SQL text →
    // `* EXCEPT (col), (expr) AS col` (Spark's grammar has EXCEPT but
    // not REPLACE). DuckDB's native REPLACE keeps column position while
    // ours moves replaced columns to the end — the oracle harness
    // compares by name, and users should too. ----
    QueryDef(
      "b_sql27_star_replace",
      (s, d) => {
        Tables.t(s, d, "nation").createOrReplaceTempView("nation_rep_v")
        s.sql(
          """SELECT * REPLACE (upper(n_name) AS n_name, n_regionkey + 100 AS n_regionkey)
            |FROM nation_rep_v ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT * REPLACE (upper(n_name) AS n_name, n_regionkey + 100 AS n_regionkey)
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ---- user-written LATERAL best-match probe that PROJECTS columns
    // (not the parser's SELECT * emission): AsofLateralRule re-applies
    // the projection after the argmax, so this plans as join +
    // per-row max_by instead of Spark's O(N²) domain decorrelation.
    // DuckDB shares the LATERAL spelling (ON true required). The
    // second sort key makes equal-ts picks deterministic on both
    // engines and exercises the multi-key struct ordering. ----
    QueryDef(
      "b_sql28_asof_projected",
      (s, d) => {
        Tables.t(s, d, "events").createOrReplaceTempView("events_ap_v")
        s.sql(
          """SELECT e.event_id, p.prior_purchase
            |FROM events_ap_v e
            |LEFT JOIN LATERAL (
            |  SELECT p0.event_id AS prior_purchase
            |  FROM events_ap_v p0
            |  WHERE p0.event_type = 'purchase' AND e.user_id = p0.user_id
            |    AND e.ts >= p0.ts
            |  ORDER BY p0.ts DESC, p0.event_id DESC LIMIT 1) p
            |ORDER BY e.event_id""".stripMargin)
      },
      Some("""SELECT e.event_id, p.prior_purchase
             |FROM events e
             |LEFT JOIN LATERAL (
             |  SELECT p0.event_id AS prior_purchase
             |  FROM events p0
             |  WHERE p0.event_type = 'purchase' AND e.user_id = p0.user_id
             |    AND e.ts >= p0.ts
             |  ORDER BY p0.ts DESC, p0.event_id DESC LIMIT 1) p ON true
             |ORDER BY e.event_id""".stripMargin)),

    // ---- CH `* APPLY(f)` star modifier (with EXCEPT): the rescue tier
    // wraps the star in a ch_star_apply marker and StarApplyRule
    // re-expands it per resolved column. Columns keep their ORIGINAL
    // names (documented deviation from CH's `f(col)` naming), so the
    // oracle spells the expansion explicitly. ----
    QueryDef(
      "b_sql29_star_apply",
      (s, d) => {
        Tables.t(s, d, "nation").createOrReplaceTempView("nation_app_v")
        s.sql(
          """SELECT * EXCEPT (n_comment) APPLY (toString) FROM nation_app_v
            |ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
             |  CAST(n_name AS VARCHAR) AS n_name,
             |  CAST(n_regionkey AS VARCHAR) AS n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ---- descending WITH FILL with recursive expression interpolation
    // (the CH docs' primary INTERPOLATE example shape: each consecutive
    // fill row applies the step again — closed form carried + n*k over
    // the fill distance). numbers()-driven, so the oracle is a pinned
    // VALUES table computed from the same semantics. Fill rows before
    // the first original stay NULL (documented type-default deviation).
    QueryDef(
      "b_sql30_fill_desc",
      (s, _) => s.sql(
        """SELECT n, inter FROM (
          |  SELECT CAST(number * 3 AS BIGINT) AS n,
          |         CAST(number * 10 AS BIGINT) AS inter
          |  FROM numbers(4))
          |ORDER BY n DESC WITH FILL FROM 11 TO -1 STEP -1
          |INTERPOLATE (inter AS inter + 5)""".stripMargin),
      Some("""SELECT CAST(n AS BIGINT) AS n, CAST(inter AS BIGINT) AS inter
             |FROM (VALUES
             |  (11, NULL), (10, NULL), (9, 30), (8, 35), (7, 40), (6, 20),
             |  (5, 25), (4, 30), (3, 10), (2, 15), (1, 20), (0, 0)) t(n, inter)
             |ORDER BY n DESC""".stripMargin)),

    // ---- CH expression-alias substitution: WHERE references a SELECT
    // alias (everyday CH text; Spark alone fails UNRESOLVED_COLUMN).
    // Resolved by [[graft.plans.AliasInWhereRule]] inlining the alias
    // body into the filter. The oracle spells the expression out, so it
    // certifies the inlined semantics, not DuckDB's own alias support.
    QueryDef(
      "b_sql42_alias_where",
      (s, d) => {
        Tables.t(s, d, "lineitem").createOrReplaceTempView("lineitem_aw_v")
        s.sql(
          """SELECT l_orderkey, l_linenumber,
            |  l_extendedprice * (1 - l_discount) AS net
            |FROM lineitem_aw_v
            |WHERE net > 90000
            |ORDER BY l_orderkey, l_linenumber""".stripMargin)
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice * (1 - l_discount) AS net
             |FROM lineitem
             |WHERE l_extendedprice * (1 - l_discount) > 90000
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- CH/MySQL `LIMIT offset, count` comma form (rescue splice to
    // LIMIT/OFFSET — ClickHouse SELECT docs, LIMIT clause) ----
    QueryDef(
      "b_sql43_limit_comma",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_lc_v")
        s.sql(
          """SELECT o_orderkey, o_totalprice FROM orders_lc_v
            |ORDER BY o_totalprice DESC, o_orderkey LIMIT 5, 10""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5""".stripMargin)),

    // ---- CH multi-quantile parameterized aggregates: quantilesExact
    // maps onto percentile's array form (linear interpolation — the
    // same documented deviation as the scalar quantileExact mapping) ----
    QueryDef(
      "b_sql44_quantiles_multi",
      (s, d) => {
        Tables.t(s, d, "lineitem").createOrReplaceTempView("lineitem_qm_v")
        s.sql(
          """SELECT element_at(qs, 1) AS q25, element_at(qs, 2) AS q50,
            |  element_at(qs, 3) AS q75
            |FROM (SELECT quantilesExact(0.25, 0.5, 0.75)(l_quantity) AS qs
            |      FROM lineitem_qm_v)""".stripMargin)
      },
      Some("""SELECT quantile_cont(l_quantity, 0.25) AS q25,
             |  quantile_cont(l_quantity, 0.5) AS q50,
             |  quantile_cont(l_quantity, 0.75) AS q75
             |FROM lineitem""".stripMargin)),

    // ---- round-8 second-harvest dialect tail (array search/rotate,
    // year-zero/MJD day counts, countMatches, substringIndex, erf/tgamma
    // specials) — every spelling oracle-recomputed by DuckDB. Array
    // results (`rot`, `dense`) are serialized with array_join on BOTH
    // engine sides (the b_sql46 pattern): the driver's pandas
    // canonicalizer cannot sort raw-array columns, so a LIST-typed
    // result column is gate-incompatible by construction (and now
    // linted at verify time by scripts/check.py). ----
    QueryDef(
      "b_sql45_dialect_tail2",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_dt2_v")
        s.sql(
          """SELECT o_orderkey,
            |  array_join(transform(arrayRotateLeft(array(1, CAST(o_orderkey % 5 AS INT), 3), 1),
            |                       x -> CAST(x AS STRING)), ',') AS rot,
            |  arrayFirstIndex(x -> x > 2, array(1, CAST(o_orderkey % 5 AS INT), 3)) AS fidx,
            |  hasSubstr(array(1, CAST(o_orderkey % 5 AS INT), 3),
            |            array(1, 2)) AS hsub,
            |  array_join(transform(arrayEnumerateDense(array(1, CAST(o_orderkey % 2 AS INT), 1)),
            |                       x -> CAST(x AS STRING)), ',') AS dense,
            |  toDaysSinceYearZero(o_orderdate) AS dsz,
            |  toModifiedJulianDay(o_orderdate) AS mjd,
            |  countMatches(o_orderstatus, 'O|F') AS cm,
            |  substringIndex(o_orderpriority, '-', 1) AS pri,
            |  lgamma(o_totalprice / 1000.0) AS e1,
            |  tgamma(CAST(o_orderkey % 5 + 2 AS DOUBLE)) AS tg
            |FROM orders_dt2_v WHERE o_orderkey % 23 = 0""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  array_to_string([CAST(o_orderkey % 5 AS INT), 3, 1], ',') AS rot,
             |  CAST(coalesce(list_position(list_transform([1, CAST(o_orderkey % 5 AS INT), 3], x -> x > 2), true), 0) AS BIGINT) AS fidx,
             |  o_orderkey % 5 = 2 AS hsub,
             |  CASE WHEN o_orderkey % 2 = 1 THEN '1,1,1' ELSE '1,2,1' END AS dense,
             |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528 AS BIGINT) AS dsz,
             |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 40587 AS BIGINT) AS mjd,
             |  CAST(len(regexp_extract_all(o_orderstatus, 'O|F')) AS BIGINT) AS cm,
             |  split_part(o_orderpriority, '-', 1) AS pri,
             |  lgamma(o_totalprice / 1000.0) AS e1,
             |  gamma(CAST(o_orderkey % 5 + 2 AS DOUBLE)) AS tg
             |FROM orders WHERE o_orderkey % 23 = 0""".stripMargin)),

    // ---- CH Map-family aggregates (sumMap/minMap over parallel arrays
    // → key-sorted keys + per-key reductions; emitted as joined strings
    // with integral rounding so both engines render identically) ----
    QueryDef(
      "b_sql46_map_aggregates",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_ma_v")
        s.sql(
          """SELECT st,
            |  array_join(sm.keys, ',') AS ks,
            |  array_join(transform(sm.values, v -> CAST(round(v) AS BIGINT)), ',') AS sums,
            |  array_join(transform(mn.values, v -> CAST(round(v) AS BIGINT)), ',') AS mins
            |FROM (SELECT o_orderstatus AS st,
            |        sumMap(array(o_orderpriority), array(o_totalprice)) AS sm,
            |        minMap(array(o_orderpriority), array(o_totalprice)) AS mn
            |      FROM orders_ma_v GROUP BY o_orderstatus)
            |ORDER BY st""".stripMargin)
      },
      Some("""SELECT st,
             |  array_to_string(list(pri ORDER BY pri), ',') AS ks,
             |  array_to_string(list(CAST(round(s) AS BIGINT) ORDER BY pri), ',') AS sums,
             |  array_to_string(list(CAST(round(m) AS BIGINT) ORDER BY pri), ',') AS mins
             |FROM (SELECT o_orderstatus AS st, o_orderpriority AS pri,
             |        sum(o_totalprice) AS s, min(o_totalprice) AS m
             |      FROM orders GROUP BY 1, 2) t
             |GROUP BY st ORDER BY st""".stripMargin)),

    // ---- CH vector-distance spellings (dotProduct / Lp norms and
    // distances / cosineDistance) — 2-d vectors from scalar columns so
    // the DuckDB oracle is the closed-form arithmetic ----
    QueryDef(
      "b_sql47_vector_distances",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_vd_v")
        s.sql(
          """SELECT o_orderkey,
            |  dotProduct(array(x, y), array(y, 1.0)) AS dp,
            |  L1Norm(array(x, -y)) AS n1,
            |  L2Norm(array(x, y)) AS n2,
            |  L1Distance(array(x, y), array(y, x)) AS d1,
            |  L2Distance(array(x, y), array(y, x)) AS d2,
            |  L2SquaredDistance(array(x, y), array(y, x)) AS d2s,
            |  LinfDistance(array(x, y), array(y, x)) AS dinf,
            |  cosineDistance(array(x, y), array(y, x)) AS cd
            |FROM (SELECT o_orderkey, o_totalprice / 1000.0 AS x,
            |        CAST(o_orderkey % 7 + 1 AS DOUBLE) AS y
            |      FROM orders_vd_v WHERE o_orderkey % 19 = 0)""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  x * y + y * 1.0 AS dp,
             |  abs(x) + abs(y) AS n1,
             |  sqrt(x * x + y * y) AS n2,
             |  2 * abs(x - y) AS d1,
             |  sqrt(2 * (x - y) * (x - y)) AS d2,
             |  2 * (x - y) * (x - y) AS d2s,
             |  abs(x - y) AS dinf,
             |  1.0 - (2 * x * y) / (x * x + y * y) AS cd
             |FROM (SELECT o_orderkey, o_totalprice / 1000.0 AS x,
             |        CAST(o_orderkey % 7 + 1 AS DOUBLE) AS y
             |      FROM orders WHERE o_orderkey % 19 = 0) t""".stripMargin)),

    // ---- CH QUALIFY clause: post-window filter referencing both a
    // SELECT alias and a raw window expression; ORDER BY survives in
    // the rewritten outer query ----
    QueryDef(
      "b_sql48_qualify",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_q_v")
        s.sql(
          """SELECT o_custkey,
            |  o_orderkey,
            |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
            |FROM orders_q_v
            |QUALIFY rn <= 2
            |  AND count(*) OVER (PARTITION BY o_custkey) >= 3
            |ORDER BY o_custkey, rn""".stripMargin)
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn FROM (
             |  SELECT o_custkey, o_orderkey,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             |    count(*) OVER (PARTITION BY o_custkey) AS c
             |  FROM orders) t
             |WHERE rn <= 2 AND c >= 3
             |ORDER BY o_custkey, rn""".stripMargin)),

    // ---- fourth audit-tail pass: keyed arraySort, forward-fill,
    // banker's rounding, flat-JSON extraction, IP validation, unicode
    // bar render (DuckDB's bar uses the same eighth-block glyphs).
    // Arrays cross the oracle as joined strings to dodge list-dtype
    // bridge drift. ----
    QueryDef(
      "b_sql49_audit_tail",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_at_v")
        s.sql(
          """SELECT o_orderkey,
            |  concat_ws('-', transform(arraySort(x -> -x, array(v1, v2, v3)),
            |    y -> CAST(y AS STRING))) AS srt,
            |  concat_ws('-', transform(arrayFill(x -> x > 2, array(v1, v2, v3)),
            |    y -> CAST(y AS STRING))) AS fil,
            |  roundBankers(o_totalprice / 100) AS rb,
            |  simpleJSONExtractString(j, 'k') AS js,
            |  isIPv4String(ip) AS ip4,
            |  bar(v1, 0, 8, 10) AS bbar
            |FROM (SELECT o_orderkey, o_totalprice,
            |        CAST(o_orderkey % 9 AS INT) AS v1,
            |        CAST(o_orderkey % 5 AS INT) AS v2,
            |        CAST(o_orderkey % 7 AS INT) AS v3,
            |        concat('{"k":"v', CAST(o_orderkey % 3 AS STRING), '"}') AS j,
            |        concat(CAST(o_orderkey % 300 AS STRING), '.2.3.4') AS ip
            |      FROM orders_at_v WHERE o_orderkey % 17 = 0)""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  array_to_string(list_sort([v1, v2, v3], 'DESC'), '-') AS srt,
             |  array_to_string([v1,
             |    CASE WHEN v2 > 2 THEN v2 ELSE v1 END,
             |    CASE WHEN v3 > 2 THEN v3
             |         WHEN v2 > 2 THEN v2 ELSE v1 END], '-') AS fil,
             |  round_even(o_totalprice / 100, 0) AS rb,
             |  json_extract_string(j, '$.k') AS js,
             |  (o_orderkey % 300) <= 255 AS ip4,
             |  rtrim(bar(v1, 0, 8, 10)) AS bbar
             |FROM (SELECT o_orderkey, o_totalprice,
             |        CAST(o_orderkey % 9 AS INT) AS v1,
             |        CAST(o_orderkey % 5 AS INT) AS v2,
             |        CAST(o_orderkey % 7 AS INT) AS v3,
             |        concat('{"k":"v', CAST(o_orderkey % 3 AS VARCHAR), '"}') AS j,
             |        concat(CAST(o_orderkey % 300 AS VARCHAR), '.2.3.4') AS ip
             |      FROM orders WHERE o_orderkey % 17 = 0) t""".stripMargin)),

    // ---- CH bracket array literals + fifth-pass spellings. DuckDB
    // parses brackets natively; Spark reaches them through the
    // rescue-tier literal-vs-indexing rewrite. damerau runs on 1–2 char
    // statuses where the OSA (CH/ours) and full-DL (DuckDB) variants
    // provably agree. ----
    QueryDef(
      "b_sql50_bracket_arrays",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_ba_v")
        s.sql(
          """SELECT o_orderkey,
            |  round(arraySum([x, y, 1.0]), 6) AS asum,
            |  has([1, 3, 5], CAST(o_orderkey % 7 AS INT)) AS h,
            |  round(stringJaccardIndex(o_orderpriority, o_orderstatus), 6) AS sj,
            |  damerauLevenshteinDistance(o_orderstatus, 'FO') AS dd,
            |  isNotDistinctFrom(CAST(o_orderkey % 3 AS INT), CAST(o_orderkey % 5 AS INT)) AS ind
            |FROM (SELECT o_orderkey, o_totalprice / 1000.0 AS x,
            |        CAST(o_orderkey % 5 AS DOUBLE) AS y,
            |        o_orderpriority, o_orderstatus
            |      FROM orders_ba_v WHERE o_orderkey % 23 = 0)""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  round(CAST(list_sum([x, y, 1.0]) AS DOUBLE), 6) AS asum,
             |  list_contains([1, 3, 5], CAST(o_orderkey % 7 AS INT)) AS h,
             |  round(jaccard(o_orderpriority, o_orderstatus), 6) AS sj,
             |  CAST(damerau_levenshtein(o_orderstatus, 'FO') AS INT) AS dd,
             |  (CAST(o_orderkey % 3 AS INT) IS NOT DISTINCT FROM CAST(o_orderkey % 5 AS INT)) AS ind
             |FROM (SELECT o_orderkey, o_totalprice / 1000.0 AS x,
             |        CAST(o_orderkey % 5 AS DOUBLE) AS y,
             |        o_orderpriority, o_orderstatus
             |      FROM orders WHERE o_orderkey % 23 = 0) t""".stripMargin)),

    // ---- round-9 harvest pass 6 (reference docs/examples/py surface).
    // CH CREATE TABLE text is what reference users hand to execute()
    // verbatim (py-clickhouse-arrow README "CREATE TABLE test (id
    // UInt64, name String) ENGINE = Memory"; tests "ENGINE = MergeTree()
    // ORDER BY id" + SETTINGS index_granularity): DDL round-trip —
    // create via CH DDL, insert fixture rows, read back. ----
    QueryDef(
      "b_sql51_ch_ddl_roundtrip",
      (s, d) => {
        resetManagedTable(s, "ch_ddl_rt")
        s.sql("""CREATE TABLE ch_ddl_rt (r_regionkey Int64, r_name String)
                |ENGINE = MergeTree() ORDER BY r_regionkey
                |SETTINGS index_granularity = 8192""".stripMargin)
        Tables.t(s, d, "region").createOrReplaceTempView("region_ddl_v")
        s.sql("INSERT INTO ch_ddl_rt SELECT r_regionkey, r_name FROM region_ddl_v")
        s.sql("SELECT r_regionkey, r_name FROM ch_ddl_rt ORDER BY r_regionkey")
      },
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // ---- the DDL→registry wiring end-to-end: ReplacingMergeTree(ver)
    // ORDER BY k registers the FINAL key at parse time, so `FROM t
    // FINAL` dedups to the max-version row per key — the read-time
    // semantics a reference user gets from this exact DDL + query pair.
    // ver = o_orderkey (unique) keeps the pick deterministic. ----
    QueryDef(
      "b_sql52_ddl_replacing_final",
      (s, d) => {
        resetManagedTable(s, "ch_ddl_fin")
        s.sql("""CREATE TABLE ch_ddl_fin (ck Int64, ver Int64, pr String)
                |ENGINE = ReplacingMergeTree(ver) ORDER BY ck""".stripMargin)
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_ddl_v")
        s.sql("""INSERT INTO ch_ddl_fin
                |SELECT o_custkey, o_orderkey, o_orderpriority
                |FROM orders_ddl_v WHERE o_orderkey % 11 = 0""".stripMargin)
        s.sql("SELECT ck, pr FROM ch_ddl_fin FINAL ORDER BY ck")
      },
      Some("""SELECT ck, pr FROM (
             |  SELECT o_custkey AS ck, o_orderpriority AS pr,
             |    row_number() OVER (PARTITION BY o_custkey
             |                       ORDER BY o_orderkey DESC) AS rn
             |  FROM orders WHERE o_orderkey % 11 = 0) t
             |WHERE rn = 1 ORDER BY ck""".stripMargin)),

    // ---- the reference's connection handshake probes `SELECT
    // version()` (py-clickhouse-arrow tests; client.rs) and its
    // Python README smoke runs `SELECT 1 AS value` — the version
    // string itself is engine-specific, so the portable assertion is
    // its presence. ----
    QueryDef(
      "b_sql53_version_probe",
      (s, _) => s.sql("SELECT 1 AS value, length(version()) > 0 AS has_version"),
      Some("SELECT 1 AS value, true AS has_version")),

    // ---- nearest-match lateral probe (round-9 AsofLateralRule
    // closure): ORDER BY abs(l.x - r.x) LIMIT 1 carries OUTER
    // references in both the sort and the projection — previously a
    // bail-out into Spark's domain nested loop, now the equi-join +
    // min_by plan (AsofLateralRuleSpec pins the shape). DuckDB runs
    // the same lateral natively as the oracle. ----
    QueryDef(
      "b_sql54_nearest_lateral",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_na_v")
        s.sql(
          """SELECT l.o_orderkey, r.rk, r.delta
            |FROM (SELECT o_orderkey, o_custkey, o_totalprice
            |      FROM orders_na_v WHERE o_orderkey % 37 = 0) l
            |LEFT JOIN LATERAL (
            |  SELECT r0.o_orderkey AS rk,
            |    round(abs(l.o_totalprice - r0.o_totalprice), 2) AS delta
            |  FROM (SELECT o_orderkey, o_custkey, o_totalprice
            |        FROM orders_na_v WHERE o_orderkey % 23 = 0) r0
            |  WHERE l.o_custkey = r0.o_custkey
            |  ORDER BY abs(l.o_totalprice - r0.o_totalprice), r0.o_orderkey
            |  LIMIT 1) r
            |ORDER BY l.o_orderkey""".stripMargin)
      },
      Some("""SELECT l.o_orderkey, r.rk, r.delta
             |FROM (SELECT o_orderkey, o_custkey, o_totalprice
             |      FROM orders WHERE o_orderkey % 37 = 0) l
             |LEFT JOIN LATERAL (
             |  SELECT r0.o_orderkey AS rk,
             |    round(abs(l.o_totalprice - r0.o_totalprice), 2) AS delta
             |  FROM (SELECT o_orderkey, o_custkey, o_totalprice
             |        FROM orders WHERE o_orderkey % 23 = 0) r0
             |  WHERE l.o_custkey = r0.o_custkey
             |  ORDER BY abs(l.o_totalprice - r0.o_totalprice), r0.o_orderkey
             |  LIMIT 1) r ON true
             |ORDER BY l.o_orderkey""".stripMargin)),

    // ---- round-9 advisor-closure spellings, driver-gated: multi-array
    // zip sort (keys m+10 > 2 > 0 are always distinct, so the result is
    // closed-form), addDate/subDate timestamp arithmetic, variadic
    // concatAssumeInjective, scalar-WITH bracket literal, and the
    // 30.5-day-month formatReadableTimeDelta constant. ----
    QueryDef(
      "b_sql55_advisor_closures",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_ac_v")
        s.sql(
          """WITH [1, 2, 3] AS warr
            |SELECT o_orderkey,
            |  array_join(transform(
            |    arraySort((x, y) -> y,
            |      array(10 * CAST(o_orderkey % 5 AS INT), 20, 30),
            |      array(CAST(o_orderkey % 5 AS INT) + 10, 2, 0)),
            |    x -> CAST(x AS STRING)), ',') AS zsort,
            |  CAST(CAST(addDate(CAST(o_orderdate AS DATE), INTERVAL 10 DAY) AS DATE) AS STRING) AS d10,
            |  CAST(CAST(subDate(CAST(o_orderdate AS DATE), INTERVAL 1 DAY) AS DATE) AS STRING) AS dm1,
            |  concatAssumeInjective(o_orderstatus, '-', o_orderpriority, '!') AS cai,
            |  round(arraySum(warr), 1) AS wsum,
            |  formatReadableTimeDelta(5270400) AS ftd
            |FROM orders_ac_v WHERE o_orderkey % 29 = 0""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  '30,20,' || CAST(10 * (o_orderkey % 5) AS VARCHAR) AS zsort,
             |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 10 DAY AS DATE) AS VARCHAR) AS d10,
             |  CAST(CAST(CAST(o_orderdate AS DATE) - INTERVAL 1 DAY AS DATE) AS VARCHAR) AS dm1,
             |  o_orderstatus || '-' || o_orderpriority || '!' AS cai,
             |  CAST(6.0 AS DOUBLE) AS wsum,
             |  '2 months' AS ftd
             |FROM orders WHERE o_orderkey % 29 = 0""".stripMargin)),

    // ---- round-9 probe-pass dialect tail (126-spelling functional
    // audit): multiSearch position, demographic rounding, array set
    // ops + 1-based arrayElement, javaHash (single-char hashCode = the
    // code point, so the oracle is a CASE), base58 round-trip, CIDR
    // membership — every spelling recomputed independently by DuckDB.
    QueryDef(
      "b_sql56_dialect_probe_pass",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_pp_v")
        s.sql(
          """SELECT o_orderkey,
            |  CAST(multiSearchFirstPosition(o_orderpriority, ['URGENT', 'HIGH']) AS BIGINT) AS msp,
            |  roundDuration(o_orderkey % 700) AS rd,
            |  roundAge(o_orderkey % 90) AS ra,
            |  array_join(transform(arraySort(arrayUnion(
            |    array(1, CAST(o_orderkey % 5 AS INT)), array(2, 3))),
            |    x -> CAST(x AS STRING)), ',') AS au,
            |  CAST(arrayElement(array(10, 20, 30), CAST(o_orderkey % 3 + 1 AS INT)) AS BIGINT) AS ae,
            |  mid(o_orderpriority, 3, 4) AS md,
            |  CAST(javaHash(o_orderstatus) AS BIGINT) AS jh,
            |  base58Decode(base58Encode(o_orderpriority)) = o_orderpriority AS b58_ok,
            |  isIPAddressInRange(concat('10.', CAST(o_orderkey % 256 AS STRING), '.0.1'),
            |                     '10.0.0.0/8') AS ipr,
            |  isIPAddressInRange('192.168.1.1', '10.0.0.0/8') AS ipr2
            |FROM orders_pp_v WHERE o_orderkey % 31 = 0""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  CAST(coalesce(least(nullif(strpos(o_orderpriority, 'URGENT'), 0),
             |    nullif(strpos(o_orderpriority, 'HIGH'), 0)), 0) AS BIGINT) AS msp,
             |  CAST(CASE WHEN o_orderkey % 700 < 1 THEN 0
             |    WHEN o_orderkey % 700 < 10 THEN 1
             |    WHEN o_orderkey % 700 < 30 THEN 10
             |    WHEN o_orderkey % 700 < 60 THEN 30
             |    WHEN o_orderkey % 700 < 120 THEN 60
             |    WHEN o_orderkey % 700 < 180 THEN 120
             |    WHEN o_orderkey % 700 < 240 THEN 180
             |    WHEN o_orderkey % 700 < 300 THEN 240
             |    WHEN o_orderkey % 700 < 600 THEN 300
             |    ELSE 600 END AS BIGINT) AS rd,
             |  CAST(CASE WHEN o_orderkey % 90 < 1 THEN 0
             |    WHEN o_orderkey % 90 <= 17 THEN 17
             |    WHEN o_orderkey % 90 <= 24 THEN 18
             |    WHEN o_orderkey % 90 <= 34 THEN 25
             |    WHEN o_orderkey % 90 <= 44 THEN 35
             |    WHEN o_orderkey % 90 <= 54 THEN 45
             |    ELSE 55 END AS BIGINT) AS ra,
             |  array_to_string(list_sort(list_distinct(list_concat(
             |    [1, CAST(o_orderkey % 5 AS INT)], [2, 3]))), ',') AS au,
             |  CAST(list_extract([10, 20, 30], o_orderkey % 3 + 1) AS BIGINT) AS ae,
             |  substr(o_orderpriority, 3, 4) AS md,
             |  CAST(CASE o_orderstatus WHEN 'O' THEN 79 WHEN 'F' THEN 70
             |    WHEN 'P' THEN 80 END AS BIGINT) AS jh,
             |  true AS b58_ok,
             |  true AS ipr,
             |  false AS ipr2
             |FROM orders WHERE o_orderkey % 31 = 0""".stripMargin)),

    // ---- probe pass 8 (round 10): untuple → star expansion. The CH
    // spelling parses as a call in Spark SQL, so the always-on text
    // pass rewrites a bare/qualified-identifier argument to `t.*`
    // (ChSqlParser.rewriteUntuple); the expanded COLUMN NAMES are the
    // tuple's field names, which the oracle reproduces directly. ----
    QueryDef(
      "b_sql57_untuple",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_ut_v")
        s.sql(
          """SELECT o_orderkey, untuple(t)
            |FROM (SELECT o_orderkey,
            |        named_struct('prio', o_orderpriority,
            |                     'price_cents', CAST(round(o_totalprice * 100) AS BIGINT)) AS t
            |      FROM orders_ut_v) WHERE o_orderkey % 17 = 0""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_orderpriority AS prio,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
             |FROM orders WHERE o_orderkey % 17 = 0""".stripMargin)),

    // ---- probe pass 8 (round 10): jaro similarity pair (DuckDB has
    // both natively — a true independent oracle for the kernels),
    // MySQL-format parseDateTime (shared specifier translator),
    // SQL-standard JSON spellings, map-key LIKE, per-needle search
    // positions, bit tail, and the %20-exact URL component codec. ----
    QueryDef(
      "b_sql58_probe_pass8",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_pp8_v")
        s.sql(
          """SELECT o_orderkey,
            |  round(jaroSimilarity(o_orderpriority, o_orderstatus), 6) AS jaro,
            |  round(jaroWinklerSimilarity(o_orderpriority, substring(o_orderpriority, 1, 4)), 6) AS jw,
            |  parseDateTime(CAST(CAST(o_orderdate AS DATE) AS STRING), '%Y-%m-%d') AS pdt,
            |  parseDateTimeOrNull(o_orderpriority, '%Y-%m-%d') AS pdt_null,
            |  CAST(JSON_VALUE(concat('{"k": ', CAST(o_orderkey % 7 AS STRING), '}'), '$.k') AS BIGINT) AS jv,
            |  JSON_EXISTS(concat('{"k": ', CAST(o_orderkey % 7 AS STRING), '}'), '$.m') AS je,
            |  JSONArrayLength(concat('[1, 2, ', CAST(o_orderkey % 3 AS STRING), ']')) AS jal,
            |  isValidJSON(concat('{"k": [', CAST(o_orderkey % 7 AS STRING), ', null]}')) AS jok,
            |  isValidJSON(o_orderpriority) AS jbad,
            |  mapContainsKeyLike(map(o_orderpriority, 1), '1-%') AS mkl,
            |  array_join(transform(multiSearchAllPositions(o_orderpriority, array('URGENT', 'zz', '-')), x -> CAST(x AS STRING)), ',') AS msap,
            |  CAST(bitNot(o_orderkey % 16) AS BIGINT) AS bn,
            |  CAST(bitHammingDistance(o_orderkey % 16, 255) AS BIGINT) AS bhd,
            |  encodeURLComponent(concat(o_orderpriority, ' ', o_orderstatus)) AS urlenc,
            |  decodeURLFormComponent(encodeURLFormComponent(concat(o_orderpriority, ' x'))) AS urlrt,
            |  format('{1}/{0}', o_orderstatus, o_orderpriority) AS fmt,
            |  initcapUTF8(lower(o_orderpriority)) AS icap
            |FROM orders_pp8_v WHERE o_orderkey % 23 = 0""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  round(jaro_similarity(o_orderpriority, o_orderstatus), 6) AS jaro,
             |  round(jaro_winkler_similarity(o_orderpriority, substr(o_orderpriority, 1, 4)), 6) AS jw,
             |  strptime(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '%Y-%m-%d') AS pdt,
             |  CAST(NULL AS TIMESTAMP) AS pdt_null,
             |  CAST(o_orderkey % 7 AS BIGINT) AS jv,
             |  false AS je,
             |  CAST(3 AS BIGINT) AS jal,
             |  json_valid(concat('{"k": [', CAST(o_orderkey % 7 AS VARCHAR), ', null]}')) AS jok,
             |  json_valid(o_orderpriority) AS jbad,
             |  o_orderpriority LIKE '1-%' AS mkl,
             |  concat(CAST(strpos(o_orderpriority, 'URGENT') AS VARCHAR), ',0,',
             |    CAST(strpos(o_orderpriority, '-') AS VARCHAR)) AS msap,
             |  CAST(-(o_orderkey % 16) - 1 AS BIGINT) AS bn,
             |  CAST(bit_count(xor(o_orderkey % 16, 255)) AS BIGINT) AS bhd,
             |  replace(concat(o_orderpriority, ' ', o_orderstatus), ' ', '%20') AS urlenc,
             |  concat(o_orderpriority, ' x') AS urlrt,
             |  format('{1}/{0}', o_orderstatus, o_orderpriority) AS fmt,
             |  list_aggregate(list_transform(str_split(lower(o_orderpriority), ' '),
             |    w -> list_aggregate(list_transform(str_split(w, '-'),
             |      p -> upper(p[1:1]) || lower(p[2:])), 'string_agg', '-')), 'string_agg', ' ') AS icap
             |FROM orders WHERE o_orderkey % 23 = 0""".stripMargin)),

    // ---- probe pass 9 (round 10): XML component codec (encode chain
    // replayed literally by the oracle; decode certified as the
    // round-trip inverse), whole-token search under the tokens()
    // tokenizer, character n-grams, and integer-map gap-fill
    // (mapPopulateSeries values serialized for the gate). hostName()
    // is machine-dependent — spec-gated only. ----
    QueryDef(
      "b_sql59_probe_pass9",
      (s, d) => {
        Tables.t(s, d, "orders").createOrReplaceTempView("orders_pp9_v")
        s.sql(
          """SELECT o_orderkey,
            |  encodeXMLComponent(concat(o_orderpriority, '<&>"')) AS xenc,
            |  decodeXMLComponent(encodeXMLComponent(concat(o_orderstatus, '&<x>'))) AS xrt,
            |  hasToken(o_orderpriority, 'URGENT') AS htok,
            |  array_join(ngrams(o_orderpriority, 3), ',') AS ng3,
            |  array_join(transform(map_values(mapPopulateSeries(
            |    map(1, CAST(o_orderkey % 90 AS INT), 4, 7))), x -> CAST(x AS STRING)), ',') AS mps
            |FROM orders_pp9_v WHERE o_orderkey % 29 = 0""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  replace(replace(replace(replace(replace(
             |    concat(o_orderpriority, '<&>"'),
             |    '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
             |    '"', '&quot;'), '''', '&apos;') AS xenc,
             |  concat(o_orderstatus, '&<x>') AS xrt,
             |  list_contains(regexp_extract_all(o_orderpriority, '[a-zA-Z0-9_]+'), 'URGENT') AS htok,
             |  list_aggregate(list_transform(range(1, length(o_orderpriority) - 3 + 2),
             |    i -> substr(o_orderpriority, i::INT, 3)), 'string_agg', ',') AS ng3,
             |  concat(CAST(o_orderkey % 90 AS VARCHAR), ',0,0,7') AS mps
             |FROM orders WHERE o_orderkey % 29 = 0""".stripMargin))
  )
}
