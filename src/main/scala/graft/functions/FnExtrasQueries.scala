package graft.functions

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second tier of scalar-function families from the reference's SQL
  * passthrough surface (`clickhouse-arrow/src/client.rs:643`): string
  * search/distance (`position`/`match`/`countSubstrings`/`editDistance`/
  * `multiSearchAny`), best-effort datetime parsing
  * (`parseDateTimeBestEffort`), array builders (`range`/`arrayResize`/
  * `arrayFlatten`/`indexOf`/`arrayReverse`/`arrayCompact`), map
  * higher-order functions (`mapApply`/`mapFilter`), and RANGE window
  * frames.
  *
  * All are per-row projections or single window/agg passes — codegen'd,
  * shuffle-free except the window query, which partitions on the
  * high-cardinality `o_custkey`.
  */
object FnExtrasQueries extends QueryRegistry {
  import FnExtras._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- string search & edit distance ----
    QueryDef(
      "b_fns3_search",
      (s, d) =>
        t(s, d, "part").select(
          col("p_partkey"),
          levenshtein(col("p_name"), lower(col("p_type"))).as("edit_dist"),
          regexp_count(col("p_name"), lit("[aeiou]")).as("vowels"),
          array_join(regexp_extract_all(col("p_name"), lit("[a-z]+"), lit(0)), ",").as("words"),
          col("p_name").ilike("%WID%").as("ilike_hit"),
          col("p_name").rlike("^[a-z]+ (widget|bolt)").as("re_hit"),
          (instr(col("p_name"), "widget") > 0 || instr(col("p_name"), "gear") > 0)
            .as("multi_any")),
      Some("""SELECT p_partkey,
             |  levenshtein(p_name, lower(p_type)) AS edit_dist,
             |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS vowels,
             |  array_to_string(regexp_extract_all(p_name, '[a-z]+'), ',') AS words,
             |  p_name ILIKE '%WID%' AS ilike_hit,
             |  regexp_matches(p_name, '^[a-z]+ (widget|bolt)') AS re_hit,
             |  (strpos(p_name, 'widget') > 0 OR strpos(p_name, 'gear') > 0) AS multi_any
             |FROM part""".stripMargin)),

    // ---- parseDateTimeBestEffort: first matching format wins ----
    // Three wire formats derived from o_orderdate, then parsed back by a
    // try_to_timestamp cascade — the CH "best effort" contract.
    QueryDef(
      "b_fnd2_parse_best_effort",
      (s, d) => {
        val raw = when(col("o_orderkey") % 3 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .when(col("o_orderkey") % 3 === 1, date_format(col("o_orderdate"), "dd/MM/yyyy"))
          .otherwise(date_format(col("o_orderdate"), "MMM d yyyy"))
        t(s, d, "orders").select(
          col("o_orderkey"),
          raw.as("raw"),
          coalesce(
            try_to_timestamp(raw, lit("yyyy-MM-dd")),
            try_to_timestamp(raw, lit("dd/MM/yyyy")),
            try_to_timestamp(raw, lit("MMM d yyyy"))).as("parsed"))
      },
      Some("""WITH w AS (
             |  SELECT o_orderkey,
             |    CASE o_orderkey % 3
             |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
             |      WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
             |      ELSE strftime(o_orderdate, '%b %-d %Y') END AS raw
             |  FROM orders)
             |SELECT o_orderkey, raw,
             |  coalesce(try_strptime(raw, '%Y-%m-%d'),
             |           try_strptime(raw, '%d/%m/%Y'),
             |           try_strptime(raw, '%b %-d %Y')) AS parsed
             |FROM w""".stripMargin)),

    // ---- array builders: range / flatten / indexOf / reverse / compact ----
    QueryDef(
      "b_fna7_array_builders",
      (s, d) => {
        val seq1 = sequence(lit(1), pmod(col("p_size"), lit(5)) + 1)
        t(s, d, "part").select(
          col("p_partkey"),
          array_join(seq1, ",").as("seq"),
          array_join(flatten(array(seq1, array(lit(99)))), ",").as("flat"),
          array_position(seq1, 3).cast("long").as("idx_of_3"),
          element_at(seq1, -1).cast("long").as("last_elem"),
          array_join(reverse(seq1), ",").as("rev"),
          array_join(
            array_compact(array(lit("x"), lit(null).cast("string"), lit("y"))), ",")
            .as("compacted"))
      },
      Some("""WITH w AS (
             |  SELECT p_partkey, generate_series(1, p_size % 5 + 1) AS a FROM part)
             |SELECT p_partkey,
             |  array_to_string(a, ',') AS seq,
             |  array_to_string(flatten([a, [99]]), ',') AS flat,
             |  CAST(coalesce(list_position(a, 3), 0) AS BIGINT) AS idx_of_3,
             |  CAST(a[-1] AS BIGINT) AS last_elem,
             |  array_to_string(list_reverse(a), ',') AS rev,
             |  array_to_string(list_filter(['x', NULL, 'y'], x -> x IS NOT NULL), ',') AS compacted
             |FROM w""".stripMargin)),

    // ---- map higher-order functions: apply / filter / concat ----
    // Maps built from part attributes; outputs serialized as sorted
    // "k=v" strings (map column order is engine-specific). The oracle
    // hand-derives the same strings with list ops — DuckDB needs no map
    // type to agree on the semantics.
    QueryDef(
      "b_fnp2_map_hofs",
      (s, d) => {
        val m = map_from_arrays(
          array(lit("a"), lit("b"), lit("c")),
          array(col("p_size"), col("p_size") * 2, col("p_size") * 3))
        def render(mc: org.apache.spark.sql.Column) = array_join(
          array_sort(transform(map_entries(mc),
            e => concat(e.getField("key"), lit("="), e.getField("value").cast("string")))), ",")
        t(s, d, "part").select(
          col("p_partkey"),
          render(transform_values(m, (_, v) => v + 1)).as("applied"),
          render(map_filter(m, (_, v) => v % 2 === 0)).as("evens"),
          render(map_concat(m, map(lit("d"), col("p_size") * 4))).as("merged"))
      },
      Some("""SELECT p_partkey,
             |  'a=' || (p_size + 1) || ',b=' || (p_size * 2 + 1) || ',c=' || (p_size * 3 + 1) AS applied,
             |  array_to_string(list_sort(
             |    list_filter(['a=' || p_size, 'b=' || p_size * 2, 'c=' || p_size * 3],
             |                x -> CAST(str_split(x, '=')[2] AS BIGINT) % 2 = 0)), ',') AS evens,
             |  'a=' || p_size || ',b=' || p_size * 2 || ',c=' || p_size * 3 || ',d=' || p_size * 4 AS merged
             |FROM part""".stripMargin)),

    // ---- RANGE window frame: value-based bounds, not row counts ----
    QueryDef(
      "b_win6_range_frame",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
          .rangeBetween(-10000L, 0L)
        t(s, d, "orders").select(
          col("o_orderkey"),
          col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"),
          count(lit(1)).over(w).as("peers_in_band"),
          round(sum(col("o_totalprice")).over(w), 2).as("band_sum"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  round(o_totalprice, 2) AS price,
             |  count(*) OVER w AS peers_in_band,
             |  round(sum(o_totalprice) OVER w, 2) AS band_sum
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
             |             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- safe arithmetic: CH divideOrNull / intDivOrZero / parse-or-null
    // (ANSI-off semantics made explicit with the try_* family) ----
    QueryDef(
      "b_fnm2_safe_arith",
      (s, d) =>
        t(s, d, "lineitem").select(
          col("l_orderkey"),
          col("l_linenumber"),
          round(try_divide(col("l_extendedprice"), col("l_discount")), 4).as("div_or_null"),
          coalesce(
            try_divide(col("l_quantity"), col("l_discount")), lit(0.0)).as("div_or_zero"),
          try_divide(lit(1.0), col("l_discount") - col("l_discount")).as("one_over_zero"),
          expr("try_cast(l_returnflag AS INT)").as("parse_or_null")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  round(l_extendedprice / nullif(l_discount, 0), 4) AS div_or_null,
             |  coalesce(l_quantity / nullif(l_discount, 0), 0.0) AS div_or_zero,
             |  1.0 / nullif(l_discount - l_discount, 0) AS one_over_zero,
             |  try_cast(l_returnflag AS INT) AS parse_or_null
             |FROM lineitem""".stripMargin)),

    // ---- groupArray with deterministic ORDER BY (CH groupArraySorted) ----
    // collect_list order is execution-dependent; sorting (key, value)
    // structs inside the aggregate pins it — the only portable contract.
    QueryDef(
      "b_agg21_group_concat",
      (s, d) =>
        t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(
            array_join(
              transform(
                array_sort(collect_list(struct(col("o_orderkey"), col("o_orderpriority")))),
                e => e.getField("o_orderpriority")),
              "|").as("prio_seq"),
            count(lit(1)).as("n")),
      Some("""SELECT o_custkey,
             |  string_agg(o_orderpriority, '|' ORDER BY o_orderkey) AS prio_seq,
             |  count(*) AS n
             |FROM orders GROUP BY o_custkey""".stripMargin)),

    // ---- date/time arithmetic tier 2 ----
    QueryDef(
      "b_fnd3_date_arith",
      (s, d) =>
        t(s, d, "orders").select(
          col("o_orderkey"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus_3m"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          datediff(lit("1998-01-01").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("days_to_98"),
          weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
          dayofweek(col("o_orderdate")).cast("long").as("dow_1sun"),
          quarter(col("o_orderdate")).cast("long").as("q")),
      Some("""SELECT o_orderkey,
             |  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3m,
             |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
             |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT) AS days_to_98,
             |  CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
             |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_1sun,
             |  CAST(quarter(o_orderdate) AS BIGINT) AS q
             |FROM orders""".stripMargin)),

    // ---- arrayCumSum / arrayDifference (per-array scans) ----
    QueryDef(
      "b_fna8_array_scans",
      (s, d) =>
        t(s, d, "part")
          .withColumn("a0", sequence(lit(1), pmod(col("p_size"), lit(6)) + 1))
          .select(
            col("p_partkey"),
            array_join(col("a0"), ",").as("a"),
            array_join(expr(
              """transform(sequence(1, size(a0)),
                |  i -> aggregate(slice(a0, 1, i), CAST(0 AS BIGINT), (acc, x) -> acc + x))""".stripMargin),
              ",").as("cumsum"),
            array_join(expr(
              """transform(sequence(1, size(a0)),
                |  i -> IF(i = 1, CAST(a0[0] AS BIGINT), CAST(a0[i-1] - a0[i-2] AS BIGINT)))""".stripMargin),
              ",").as("diffs")),
      Some("""WITH w AS (SELECT p_partkey, generate_series(1, p_size % 6 + 1) AS a FROM part)
             |SELECT p_partkey,
             |  array_to_string(a, ',') AS a,
             |  array_to_string(list_transform(range(len(a)),
             |    i -> list_sum(a[1:i+1])), ',') AS cumsum,
             |  array_to_string(list_transform(range(len(a)),
             |    i -> CASE WHEN i = 0 THEN a[1] ELSE a[i+1] - a[i] END), ',') AS diffs
             |FROM w""".stripMargin)),

    // ---- first/last_value IGNORE NULLS over windows ----
    QueryDef(
      "b_win8_ignore_nulls",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val v = when(col("o_totalprice") > 150000.0, col("o_totalprice"))
        t(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          round(last(v, ignoreNulls = true).over(w), 2).as("last_big"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  round(last_value(CASE WHEN o_totalprice > 150000.0 THEN o_totalprice END IGNORE NULLS)
             |    OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS last_big
             |FROM orders""".stripMargin)),

    // ---- scalar bit ops: shifts / and / or / xor / not ----
    QueryDef(
      "b_fnb1_bitops",
      (s, d) =>
        t(s, d, "part").select(
          col("p_partkey"),
          shiftleft(col("p_partkey"), 3).as("shl"),
          shiftright(col("p_partkey"), 2).as("shr"),
          col("p_partkey").bitwiseAND(lit(255L)).as("b_and"),
          col("p_partkey").bitwiseOR(lit(4096L)).as("b_or"),
          col("p_partkey").bitwiseXOR(lit(0x5555L)).as("b_xor"),
          bitwise_not(col("p_partkey")).as("b_not"),
          bit_count(col("p_partkey")).cast("long").as("popcnt")),
      Some("""SELECT p_partkey,
             |  p_partkey << 3 AS shl,
             |  p_partkey >> 2 AS shr,
             |  p_partkey & 255 AS b_and,
             |  p_partkey | 4096 AS b_or,
             |  xor(p_partkey, 21845) AS b_xor,
             |  ~p_partkey AS b_not,
             |  CAST(bit_count(p_partkey) AS BIGINT) AS popcnt
             |FROM part""".stripMargin)),

    // ---- CH transform(x, from, to, default): value mapping ----
    QueryDef(
      "b_flt3_transform_map",
      (s, d) => {
        val m = typedLit(Map(
          "1-URGENT" -> "P0", "2-HIGH" -> "P1", "3-MEDIUM" -> "P2"))
        t(s, d, "orders").select(
          col("o_orderkey"),
          coalesce(element_at(m, col("o_orderpriority")), lit("P3")).as("tier"))
      },
      Some("""SELECT o_orderkey,
             |  CASE o_orderpriority WHEN '1-URGENT' THEN 'P0' WHEN '2-HIGH' THEN 'P1'
             |       WHEN '3-MEDIUM' THEN 'P2' ELSE 'P3' END AS tier
             |FROM orders""".stripMargin)),

    // ---- ngramDistance / ngramSearch (CH string-similarity tier):
    // char-trigram Jaccard between two columns, computed in a typed map
    // kernel (JIT'd HashSet loop — the same anti-interpreter pattern as
    // the dedup signatures). Pure per-row op, zero shuffle. The oracle
    // rebuilds identical trigram sets with DuckDB list comprehensions. --
    QueryDef(
      "b_fns4_ngram_sim",
      (s, d) => {
        import s.implicits._
        t(s, d, "part")
          .select(col("p_partkey"), col("p_name"), col("p_type"))
          .as[(Long, String, String)]
          .map { case (k, a, b) =>
            val sim = NgramKernel.jaccard(a, b)
            (k, sim)
          }
          .toDF("p_partkey", "sim")
          .select(
            col("p_partkey"),
            round(col("sim"), 6).as("ngram_sim"),
            round(lit(1.0) - col("sim"), 6).as("ngram_dist"))
      },
      Some("""WITH g AS (
             |  SELECT p_partkey,
             |    list_distinct(CASE WHEN length(p_name) >= 3 THEN
             |      list_transform(generate_series(1, length(p_name) - 2), i -> p_name[i:i+2])
             |      ELSE [] END) AS da,
             |    list_distinct(CASE WHEN length(p_type) >= 3 THEN
             |      list_transform(generate_series(1, length(p_type) - 2), i -> p_type[i:i+2])
             |      ELSE [] END) AS db
             |  FROM part),
             |j AS (
             |  SELECT p_partkey, len(da) + len(db) AS tot,
             |    len(list_filter(da, x -> list_contains(db, x))) AS inter
             |  FROM g)
             |SELECT p_partkey,
             |  round(CASE WHEN tot = 0 THEN 1.0
             |             ELSE inter / CAST(tot - inter AS DOUBLE) END, 6) AS ngram_sim,
             |  round(1.0 - CASE WHEN tot = 0 THEN 1.0
             |             ELSE inter / CAST(tot - inter AS DOUBLE) END, 6) AS ngram_dist
             |FROM j""".stripMargin)),

    // ---- formatReadableSize + bar (CH display formatters): unit-ladder
    // string rendering and a proportional text gauge. The max() for the
    // gauge denominator is ONE scalar aggregate broadcast via cross join
    // — not a window over the full table — so the scan stays one pass. --
    QueryDef(
      "b_fmt1_readable",
      (s, d) => {
        val x = col("l_extendedprice")
        val mx = t(s, d, "lineitem").agg(max(x).as("mx"))
        t(s, d, "lineitem")
          .where(col("l_orderkey") % 37 === 0)
          .crossJoin(mx)
          .select(
            col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            when(x < 1024, concat(round(x, 0).cast("long").cast("string"), lit(" B")))
              .when(x < 1048576, concat(round(x / 1024, 2).cast("string"), lit(" KiB")))
              .otherwise(concat(round(x / 1048576, 2).cast("string"), lit(" MiB")))
              .as("readable"),
            concat(lit("["),
              rpad(repeat(lit("#"), round(x / col("mx") * 10).cast("int")), 10, " "),
              lit("]")).as("bar"))
      },
      Some("""WITH m AS (SELECT max(l_extendedprice) AS mx FROM lineitem)
             |SELECT l_orderkey,
             |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |  CASE WHEN l_extendedprice < 1024
             |         THEN CAST(CAST(round(l_extendedprice, 0) AS BIGINT) AS VARCHAR) || ' B'
             |       WHEN l_extendedprice < 1048576
             |         THEN CAST(round(l_extendedprice / 1024, 2) AS VARCHAR) || ' KiB'
             |       ELSE CAST(round(l_extendedprice / 1048576, 2) AS VARCHAR) || ' MiB'
             |  END AS readable,
             |  '[' || rpad(repeat('#', CAST(round(l_extendedprice / mx * 10) AS INT)), 10, ' ') || ']' AS bar
             |FROM lineitem CROSS JOIN m WHERE l_orderkey % 37 = 0""".stripMargin))
  ) ++ tzDefs

  /** Timezone tier (CH `toTimeZone`/`toStartOfHour` in a zone): instants
    * rendered in named IANA zones. Both engines consult the same tzdb;
    * results cross the oracle as formatted strings so timestamp-canon
    * differences can't leak in. Pure per-row projection, codegen'd. ----
    */
  private def tzDefs: Seq[QueryDef] = Seq(
    QueryDef(
      "b_fnd4_timezone",
      (s, d) => {
        val ts = col("ts")
        t(s, d, "events")
          .where(col("event_id") % 11 === 0)
          .select(
            col("event_id"),
            date_format(from_utc_timestamp(ts, "America/New_York"), "yyyy-MM-dd HH:mm")
              .as("ny"),
            date_format(from_utc_timestamp(ts, "Asia/Tokyo"), "yyyy-MM-dd HH:mm")
              .as("tokyo"),
            hour(from_utc_timestamp(ts, "Australia/Sydney")).cast("long").as("syd_hour"))
      },
      Some("""SELECT event_id,
             |  strftime(timezone('America/New_York', timezone('UTC', CAST(ts AS TIMESTAMP))), '%Y-%m-%d %H:%M') AS ny,
             |  strftime(timezone('Asia/Tokyo', timezone('UTC', CAST(ts AS TIMESTAMP))), '%Y-%m-%d %H:%M') AS tokyo,
             |  CAST(hour(timezone('Australia/Sydney', timezone('UTC', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS syd_hour
             |FROM events WHERE event_id % 11 = 0""".stripMargin)),

    // ---- nested JSON round trip (CH JSONExtract* family): build a
    // nested document with to_json, then extract scalars, nested-object
    // fields, and array elements back out by JSONPath. The JSON layer is
    // what's under test — both engines derive the same values from the
    // same base columns through their own builders/extractors. ----
    QueryDef(
      "b_fnj2_json_nested",
      (s, d) => {
        val j = to_json(struct(
          col("o_orderkey").as("k"),
          struct(col("o_orderstatus").as("st"), col("o_totalprice").as("tp")).as("o"),
          array(col("o_orderpriority"), col("o_orderstatus")).as("tags")))
        t(s, d, "orders")
          .where(col("o_orderkey") % 101 === 0)
          .withColumn("j", j)
          .select(
            col("o_orderkey"),
            get_json_object(col("j"), "$.o.st").as("st"),
            round(get_json_object(col("j"), "$.o.tp").cast("double"), 2).as("tp"),
            get_json_object(col("j"), "$.tags[0]").as("tag0"),
            get_json_object(col("j"), "$.tags[1]").as("tag1"))
      },
      Some("""WITH b AS (
             |  SELECT o_orderkey, to_json(struct_pack(
             |    k := o_orderkey,
             |    o := struct_pack(st := o_orderstatus, tp := o_totalprice),
             |    tags := [o_orderpriority, o_orderstatus])) AS j
             |  FROM orders WHERE o_orderkey % 101 = 0)
             |SELECT o_orderkey,
             |  j ->> '$.o.st' AS st,
             |  round(CAST(j ->> '$.o.tp' AS DOUBLE), 2) AS tp,
             |  j ->> '$.tags[0]' AS tag0,
             |  j ->> '$.tags[1]' AS tag1
             |FROM b""".stripMargin)),

    // ---- Unicode NFC normalization (CH `normalizeUTF8NFC`): combining
    // sequences (e + U+0301) collapse to precomposed code points. Spark
    // has no normalize builtin → java.text.Normalizer in a typed map
    // kernel; DuckDB oracles with nfc_normalize. Lengths count code
    // points on both sides. ----
    QueryDef(
      "b_fns5_nfc",
      (s, d) => {
        import s.implicits._
        t(s, d, "part")
          .where(col("p_partkey") % 7 === 0)
          .select(col("p_partkey"), col("p_name"))
          .as[(Long, String)]
          .map { case (k, name) =>
            val decomposed = name + "e\u0301" // 'e' + COMBINING ACUTE ACCENT (decomposed)
            val nfc = java.text.Normalizer
              .normalize(decomposed, java.text.Normalizer.Form.NFC)
            (k, decomposed.codePointCount(0, decomposed.length).toLong,
              nfc.codePointCount(0, nfc.length).toLong,
              nfc.endsWith("\u00e9"))
          }
          .toDF("p_partkey", "len_raw", "len_nfc", "precomposed")
      },
      Some("""SELECT p_partkey,
             |  CAST(length(p_name || 'e' || chr(769)) AS BIGINT) AS len_raw,
             |  CAST(length(nfc_normalize(p_name || 'e' || chr(769))) AS BIGINT) AS len_nfc,
             |  ends_with(nfc_normalize(p_name || 'e' || chr(769)), chr(233)) AS precomposed
             |FROM part WHERE p_partkey % 7 = 0""".stripMargin)),

    // ---- format / printf (CH `format('{}..', ...)`): positional
    // string templating, printf dialect on both engines ----
    QueryDef(
      "b_fns7_format",
      (s, d) =>
        t(s, d, "orders")
          .where(col("o_orderkey") % 41 === 0)
          .select(
            col("o_orderkey"),
            format_string("order %07d [%s] %.2f",
              col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
              .as("line"),
            format_string("%s|%s",
              col("o_orderpriority"), upper(col("o_orderstatus"))).as("tag")),
      Some("""SELECT o_orderkey,
             |  printf('order %07d [%s] %.2f', o_orderkey, o_orderstatus, o_totalprice) AS line,
             |  printf('%s|%s', o_orderpriority, upper(o_orderstatus)) AS tag
             |FROM orders WHERE o_orderkey % 41 = 0""".stripMargin)),

    // ---- dateDiff units (CH `dateDiff('day'|'month'|'year', a, b)` and
    // `age`): calendar deltas against a fixed anchor, all built-ins ----
    QueryDef(
      "b_fnd5_datediff",
      (s, d) => {
        val anchor = to_date(lit("1995-06-15"))
        t(s, d, "orders")
          .where(col("o_orderkey") % 13 === 0)
          .select(
            col("o_orderkey"),
            datediff(anchor, col("o_orderdate")).cast("long").as("dd_days"),
            floor(months_between(anchor, col("o_orderdate"))).cast("long").as("dd_months"),
            (lit(1995) - year(col("o_orderdate"))).cast("long").as("dd_years"))
      },
      Some("""SELECT o_orderkey,
             |  CAST(date_diff('day', o_orderdate, DATE '1995-06-15') AS BIGINT) AS dd_days,
             |  CAST((1995 - year(o_orderdate)) * 12 + (6 - month(o_orderdate))
             |    - CASE WHEN day(o_orderdate) > 15 THEN 1 ELSE 0 END AS BIGINT) AS dd_months,
             |  CAST(1995 - year(o_orderdate) AS BIGINT) AS dd_years
             |FROM orders WHERE o_orderkey % 13 = 0""".stripMargin)),

    // ---- arrayRotate / arrayShift (CH 23.8 array tier): rotation as
    // slice+concat — pure built-ins, same construction both engines ----
    QueryDef(
      "b_fna11_rotate",
      (s, d) => {
        val a = sequence(lit(1), pmod(col("p_size"), lit(5)) + 3)
        val k = pmod(col("p_partkey"), size(a))
        t(s, d, "part").select(
          col("p_partkey"),
          array_join(a, ",").as("arr"),
          array_join(
            concat(slice(a, k + 1, size(a) - k), slice(a, lit(1), k)), ",")
            .as("rot_left_k"),
          array_join(slice(concat(a, a), size(a) - k + 1, size(a)), ",")
            .as("rot_right_k"))
      },
      Some("""WITH w AS (
             |  SELECT p_partkey, generate_series(1, p_size % 5 + 3) a,
             |    p_partkey % (p_size % 5 + 3) k
             |  FROM part)
             |SELECT p_partkey,
             |  array_to_string(a, ',') AS arr,
             |  array_to_string(a[k+1:] || a[:k], ',') AS rot_left_k,
             |  array_to_string((a || a)[len(a)-k+1:2*len(a)-k], ',') AS rot_right_k
             |FROM w""".stripMargin)),

    // ---- string tier 3 (CH `translate`/`repeat`/`left`/`right`/
    // `splitByChar(..)[n]`): five more passthrough names, all per-row
    // codegen'd built-ins on both engines ----
    QueryDef(
      "b_fns6_string_tier3",
      (s, d) =>
        t(s, d, "part").select(
          col("p_partkey"),
          translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
          repeat(substring(col("p_name"), 1, 3), 2).as("rep"),
          substring(col("p_name"), 1, 4).as("l4"),
          substring(col("p_name"), -4, 4).as("r4"),
          split(col("p_name"), " ").getItem(1).as("word2")),
      Some("""SELECT p_partkey,
             |  translate(p_name, 'aeiou', 'AEIOU') AS tr,
             |  repeat(substr(p_name, 1, 3), 2) AS rep,
             |  left(p_name, 4) AS l4,
             |  right(p_name, 4) AS r4,
             |  split_part(p_name, ' ', 2) AS word2
             |FROM part""".stripMargin)),

    // ---- arrayEnumerateUniq (CH): per element, its occurrence index
    // among equal values so far ([a,b,a,a] → [1,1,2,3]). Computed in a
    // typed map kernel (HashMap counter loop); the oracle rebuilds with
    // a quadratic-but-tiny list comprehension. ----
    QueryDef(
      "b_fna10_enumerate_uniq",
      (s, d) => {
        import s.implicits._
        t(s, d, "part")
          .select(col("p_partkey"),
            split(col("p_name"), " ").as("ws"))
          .as[(Long, Seq[String])]
          .map { case (k, ws) =>
            val seen = new scala.collection.mutable.HashMap[String, Int]
            val out = ws.map { w =>
              val c = seen.getOrElse(w, 0) + 1
              seen(w) = c
              c
            }
            (k, out.mkString(","))
          }
          .toDF("p_partkey", "enum_uniq")
      },
      Some("""SELECT p_partkey,
             |  array_to_string(list_transform(range(len(ws)),
             |    i -> len(list_filter(ws[1:i+1], x -> x = ws[i+1]))), ',') AS enum_uniq
             |FROM (SELECT p_partkey, str_split(p_name, ' ') ws FROM part)""".stripMargin)),

    // ---- malformed-record tolerance (CH `input_format_allow_errors_*`
    // / Spark PERMISSIVE parsing): every 5th "wire row" is corrupt JSON;
    // from_json yields NULL for those instead of failing the batch, and
    // the ok flag routes them to a quarantine path. The ingest-
    // robustness contract a 100-TB loader needs (one bad row must never
    // kill a 10-hour job). ----
    QueryDef(
      "b_fnj3_bad_records",
      (s, d) => {
        val raw = when(col("s_suppkey") % 5 === 0,
          concat(lit("{bad json "), col("s_name")))
          .otherwise(to_json(struct(col("s_suppkey").as("id"), col("s_acctbal").as("bal"))))
        t(s, d, "supplier")
          .select(col("s_suppkey"), raw.as("raw"))
          .withColumn("parsed", from_json(col("raw"), "id BIGINT, bal DOUBLE",
            Map.empty[String, String]))
          .select(
            col("s_suppkey"),
            col("parsed.id").isNotNull.as("ok"),
            col("parsed.id").as("id"),
            round(col("parsed.bal"), 2).as("bal"))
      },
      Some("""SELECT s_suppkey,
             |  s_suppkey % 5 <> 0 AS ok,
             |  CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_suppkey END AS id,
             |  CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE round(s_acctbal, 2) END AS bal
             |FROM supplier""".stripMargin)),

    // ---- arrayJaccardIndex (CH): set similarity of two array columns
    // via the BUILT-IN set ops (array_intersect/array_union — codegen'd,
    // no lambda interpretation; the Spark-first preference order). ----
    QueryDef(
      "b_fna9_array_jaccard",
      (s, d) => {
        val a = sequence(lit(1), pmod(col("p_size"), lit(6)) + 2)
        val b = sequence(pmod(col("p_size"), lit(3)) + 1, lit(8))
        t(s, d, "part").select(
          col("p_partkey"),
          size(array_intersect(a, b)).cast("long").as("inter"),
          size(array_union(a, b)).cast("long").as("uni"),
          round(size(array_intersect(a, b)) /
            size(array_union(a, b)).cast("double"), 6).as("jaccard"))
      },
      Some("""WITH w AS (
             |  SELECT p_partkey,
             |    generate_series(1, p_size % 6 + 2) a,
             |    generate_series(p_size % 3 + 1, 8) b
             |  FROM part)
             |SELECT p_partkey,
             |  CAST(len(list_filter(list_distinct(a), x -> list_contains(b, x))) AS BIGINT) AS inter,
             |  CAST(len(list_distinct(a || b)) AS BIGINT) AS uni,
             |  round(len(list_filter(list_distinct(a), x -> list_contains(b, x)))
             |    / CAST(len(list_distinct(a || b)) AS DOUBLE), 6) AS jaccard
             |FROM w""".stripMargin))
  )
}
