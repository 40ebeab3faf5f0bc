package graft.functions

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Layer-B scalar-function families (SURVEY.md §2.2 B-FNS1 / B-FND1 /
  * B-FNM1 / B-FNA1 / B-FNP1 / B-FNJ1 / B-FNH1 / B-FNC1).
  *
  * The reference only implements the *type serde* for these families
  * (`clickhouse-arrow/src/native/values/` modules); the functions themselves are
  * ClickHouse SQL reached through passthrough. Here they are the codegen'd
  * builtins from `org.apache.spark.sql.functions` — no UDFs in the hot path.
  *
  * Cross-engine parity notes baked into the queries:
  *  - derived ints are cast to BIGINT on both sides (DuckDB year()/length()
  *    return int64, Spark int; DuckDB sum(int) returns HUGEINT)
  *  - Spark CAST(double AS INT) truncates, DuckDB rounds → oracle uses
  *    trunc() explicitly
  *  - DuckDB date_trunc returns DATE for day+ units, Spark returns
  *    timestamp → both sides normalize to DATE
  *  - arrays are emitted as joined strings (list VALUES are compared, not
  *    engine-specific list ordering/typing)
  */
object FunctionsQueries extends QueryRegistry {

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- B-FNS1: string functions ----
    QueryDef(
      "b_fns1_string",
      (s, d) =>
        t(s, d, "part").select(
          col("p_partkey"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 2, 3).as("sub"),
          lower(col("p_brand")).as("lo"),
          upper(col("p_type")).as("up"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("cat"),
          trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"),
          regexp_replace(col("p_name"), "[aeiou]", "*").as("devowel"),
          instr(col("p_name"), "a").cast("long").as("pos_a"),
          col("p_name").startsWith("s").as("starts_s"),
          split(col("p_name"), " ").getItem(0).as("first_word"),
          lpad(col("p_size").cast("string"), 4, "0").as("padded"),
          reverse(col("p_brand")).as("rev"),
          repeat(col("p_brand"), 2).as("twice")),
      Some("""SELECT p_partkey,
             |  CAST(length(p_name) AS BIGINT) AS name_len,
             |  substring(p_name, 2, 3) AS sub,
             |  lower(p_brand) AS lo,
             |  upper(p_type) AS up,
             |  concat(p_brand, '-', p_type) AS cat,
             |  trim(concat('  ', p_name, '  ')) AS trimmed,
             |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS devowel,
             |  CAST(instr(p_name, 'a') AS BIGINT) AS pos_a,
             |  starts_with(p_name, 's') AS starts_s,
             |  split_part(p_name, ' ', 1) AS first_word,
             |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
             |  reverse(p_brand) AS rev,
             |  repeat(p_brand, 2) AS twice
             |FROM part""".stripMargin)),

    // ---- B-FND1: date/time functions ----
    QueryDef(
      "b_fnd1_datetime",
      (s, d) =>
        t(s, d, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp")).cast("long").as("days_since"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym")),
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(month(o_orderdate) AS BIGINT) AS mo,
             |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
             |  CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
             |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
             |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
             |  CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since,
             |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
             |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
             |  strftime(o_orderdate, '%Y-%m') AS ym
             |FROM orders""".stripMargin)),

    // ---- B-FNM1: math functions ----
    QueryDef(
      "b_fnm1_math",
      (s, d) =>
        t(s, d, "lineitem").select(
          col("l_orderkey"),
          col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("absd"),
          round(col("l_extendedprice") / 7.0, 3).as("div7"),
          floor(col("l_extendedprice")).cast("long").as("flr"),
          ceil(col("l_extendedprice")).cast("long").as("cl"),
          exp(col("l_discount")).as("e_disc"),
          log(col("l_extendedprice")).as("ln_price"),
          log10(col("l_extendedprice")).as("log10_price"),
          sqrt(col("l_quantity")).as("sqrt_qty"),
          pow(lit(1.0) + col("l_discount"), 3).as("pow3"),
          sin(col("l_tax")).as("sin_tax"),
          cos(col("l_tax")).as("cos_tax")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  abs(l_discount - 0.05) AS absd,
             |  round(l_extendedprice / 7.0, 3) AS div7,
             |  CAST(floor(l_extendedprice) AS BIGINT) AS flr,
             |  CAST(ceil(l_extendedprice) AS BIGINT) AS cl,
             |  exp(l_discount) AS e_disc,
             |  ln(l_extendedprice) AS ln_price,
             |  log10(l_extendedprice) AS log10_price,
             |  sqrt(l_quantity) AS sqrt_qty,
             |  pow(1.0 + l_discount, 3) AS pow3,
             |  sin(l_tax) AS sin_tax,
             |  cos(l_tax) AS cos_tax
             |FROM lineitem""".stripMargin)),

    // ---- B-FNA1: array functions + higher-order lambdas ----
    // Integer arrays built per-row → exact cross-engine values; arrays are
    // emitted as joined strings so only the VALUES are compared.
    QueryDef(
      "b_fna1_array",
      (s, d) =>
        t(s, d, "lineitem")
          .withColumn("arr", array(
            col("l_linenumber"),
            col("l_quantity").cast("int"),
            (col("l_partkey") % 10).cast("int")))
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            size(col("arr")).cast("long").as("n"),
            array_join(array_sort(col("arr")), ",").as("sorted"),
            array_join(array_sort(array_distinct(col("arr"))), ",").as("dist"),
            array_contains(col("arr"), 5).as("has5"),
            array_join(transform(col("arr"), x => x * 2), ",").as("doubled"),
            array_join(filter(col("arr"), x => x % 2 === 0), ",").as("evens"),
            aggregate(col("arr"), lit(0), (a, x) => a + x).cast("long").as("total"),
            array_join(slice(array_sort(col("arr")), 1, 2), ",").as("low2")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(len(arr) AS BIGINT) AS n,
             |  array_to_string(list_sort(arr), ',') AS sorted,
             |  array_to_string(list_sort(list_distinct(arr)), ',') AS dist,
             |  list_contains(arr, 5) AS has5,
             |  array_to_string(list_transform(arr, x -> x * 2), ',') AS doubled,
             |  coalesce(array_to_string(list_filter(arr, x -> x % 2 = 0), ','), '') AS evens,
             |  CAST(list_sum(arr) AS BIGINT) AS total,
             |  array_to_string(list_slice(list_sort(arr), 1, 2), ',') AS low2
             |FROM (SELECT *, [l_linenumber, CAST(trunc(l_quantity) AS INTEGER), CAST(l_partkey % 10 AS INTEGER)] AS arr
             |      FROM lineitem)""".stripMargin)),

    // ---- B-FNA1: arrayJoin / explode (row generator) ----
    QueryDef(
      "b_fna2_explode",
      (s, d) =>
        t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n")),
      Some("""SELECT word, count(*) AS n
             |FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
             |GROUP BY word""".stripMargin)),

    // ---- B-FNS2: base64Encode/base64Decode round trip ----
    QueryDef(
      "b_fns2_base64",
      (s, d) =>
        t(s, d, "part")
          .select(col("p_partkey"),
            base64(col("p_name").cast("binary")).as("b64"),
            unbase64(base64(col("p_name").cast("binary"))).cast("string").as("rt")),
      Some("""SELECT p_partkey, base64(p_name::BLOB) AS b64, p_name AS rt
             |FROM part""".stripMargin)),

    // ---- B-FNA5: multi-array ARRAY JOIN (lockstep zip-explode of two
    // parallel arrays, CH `ARRAY JOIN arr1, arr2`) ----
    QueryDef(
      "b_fna5_zip_join",
      (s, d) => {
        val grouped = t(s, d, "lineitem")
          .filter(col("l_orderkey") <= 1000)
          .groupBy(col("l_orderkey"))
          .agg(
            sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity")))).as("rows"))
          .select(col("l_orderkey"),
            expr("transform(rows, r -> r.l_linenumber)").as("lines"),
            expr("transform(rows, r -> r.l_quantity)").as("qtys"))
        grouped
          .select(col("l_orderkey"),
            explode(arrays_zip(col("lines"), col("qtys"))).as("z"))
          .select(col("l_orderkey"),
            col("z.lines").as("l_linenumber"),
            round(col("z.qtys"), 2).as("qty"))
      },
      Some("""SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
             |FROM lineitem WHERE l_orderkey <= 1000""".stripMargin)),

    // ---- B-FNA4: arrayEnumerate / ARRAY JOIN with ordinality
    // (posexplode pairs each element with its position) ----
    QueryDef(
      "b_fna4_enumerate",
      (s, d) =>
        t(s, d, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), col("pos"),
            round(col("col").cast("double"), 6).as("val")),
      Some("""SELECT vec_id, CAST(i AS INT) AS pos, round(CAST(v AS DOUBLE), 6) AS val
             |FROM (SELECT vec_id, unnest(embedding) AS v,
             |        unnest(range(len(embedding))) AS i
             |      FROM embeddings)""".stripMargin)),

    // ---- B-FNA3: LEFT ARRAY JOIN (explode_outer keeps empty-array rows,
    // ClickHouse `LEFT ARRAY JOIN`) ----
    QueryDef(
      "b_fna3_explode_outer",
      (s, d) =>
        t(s, d, "nation")
          // regionkey<2 nations contribute an empty array → one null row each
          .withColumn("tags",
            when(col("n_regionkey") < 2, array().cast("array<string>"))
              .otherwise(array(concat(lit("r"), col("n_regionkey")), col("n_name"))))
          .select(col("n_nationkey"), explode_outer(col("tags")).as("tag")),
      Some("""SELECT n_nationkey, u.tag FROM (
             |  SELECT n_nationkey,
             |    CASE WHEN n_regionkey < 2 THEN []
             |         ELSE ['r' || n_regionkey, n_name] END AS tags
             |  FROM nation) t
             |LEFT JOIN LATERAL (SELECT unnest(t.tags) AS tag) u ON TRUE""".stripMargin)),

    // ---- B-FNP1: map functions ----
    QueryDef(
      "b_fnp1_map",
      (s, d) =>
        t(s, d, "lineitem")
          .withColumn("m", map_from_arrays(
            array(lit("qty"), lit("disc")),
            array(col("l_quantity"), col("l_discount"))))
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            array_join(map_keys(col("m")), ",").as("ks"),
            round(aggregate(map_values(col("m")), lit(0.0), (a, x) => a + x), 4).as("vsum"),
            map_contains_key(col("m"), "qty").as("has_qty"),
            element_at(col("m"), "qty").as("qty_val")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  array_to_string(map_keys(m), ',') AS ks,
             |  round(list_sum(map_values(m)), 4) AS vsum,
             |  list_contains(map_keys(m), 'qty') AS has_qty,
             |  map_extract(m, 'qty')[1] AS qty_val
             |FROM (SELECT *, map(['qty','disc'], [l_quantity, l_discount]) AS m FROM lineitem)""".stripMargin)),

    // ---- B-FNJ1: JSON extraction (ClickHouse Object/JSON type is mapped
    // to Utf8 JSON text by the reference, arrow/types.rs:400) ----
    QueryDef(
      "b_fnj1_json",
      (s, d) =>
        t(s, d, "events").select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_num"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
            .getField("k").as("k_struct"),
          get_json_object(col("props"), "$.missing").as("nothing")),
      Some("""SELECT event_id,
             |  json_extract_string(props, '$.k') AS k_str,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
             |  json_extract_string(props, '$.missing') AS nothing
             |FROM events""".stripMargin)),

    // ---- B-FNH1: cryptographic hashes (cross-engine-stable subset) ----
    QueryDef(
      "b_fnh1_hash",
      (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          md5(col("text").cast("binary")).as("h_md5"),
          sha2(col("text").cast("binary"), 256).as("h_sha256")),
      Some("""SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256
             |FROM documents""".stripMargin)),

    // ---- B-FNH1b: engine-native hashes (xxhash64 / murmur3 / crc32 —
    // Spark-specific seeds, so no cross-engine SQL oracle exists for
    // arbitrary text; instead every row hashes one of 8 canonical
    // strings and the oracle joins golden vectors pinned from a
    // verified run — a regression vector, like the kernel-stability
    // rows FunctionsSpec asserts (xxhash64 over full document text is
    // pinned there too). ----
    QueryDef(
      "b_fnh2_hash_native",
      (s, d) => {
        val key = concat(lit("graft-"), (col("doc_id") % 8).cast("string"))
        t(s, d, "documents").select(
          col("doc_id"),
          xxhash64(key).as("h_xx"),
          hash(key).cast("long").as("h_murmur"),
          crc32(key.cast("binary")).as("h_crc"))
      },
      Some("""SELECT doc_id, CAST(v.h_xx AS BIGINT) AS h_xx,
             |  CAST(v.h_murmur AS BIGINT) AS h_murmur,
             |  CAST(v.h_crc AS BIGINT) AS h_crc
             |FROM documents
             |JOIN (VALUES
             |  (0, -7835119488856756382, -1592366997, 2055429426),
             |  (1, 7102959927320239621, 1038620961, 226782628),
             |  (2, -3197053065351944897, -1922056779, 2492283934),
             |  (3, 1561785834903755147, 87857088, 3817475208),
             |  (4, 1720231960346561339, -1161439238, 2112788779),
             |  (5, 7190316962624289293, -562641184, 183085501),
             |  (6, -8597478234818142024, 779562745, 2480994311),
             |  (7, 4827471647138713585, 1398680492, 3840395409)
             |) v(m, h_xx, h_murmur, h_crc)
             |ON doc_id % 8 = v.m""".stripMargin)),

    // ---- B-FNH1c: CH-exact sipHash64 (zero-key SipHash-2-4; core
    // pinned to the SipHash paper's vectors in ChDialectSpec; this query
    // pins the SQL surface over 8 canonical strings the same
    // golden-vector way as b_fnh2 — compared as strings: the UInt64
    // Decimal(20,0) exceeds int64, which pandas' DuckDB bridge degrades
    // to float64. CH xxHash64 is deliberately absent: the spelling
    // collides with Spark's builtin, see ChDialect) ----
    QueryDef(
      "b_fnh3_ch_hash",
      (s, d) => {
        t(s, d, "documents").createOrReplaceTempView("documents_chh_v")
        s.sql(
          """SELECT doc_id,
            |  CAST(sipHash64(concat('graft-', CAST(doc_id % 8 AS STRING))) AS STRING) AS h_sip
            |FROM documents_chh_v""".stripMargin)
      },
      // golden vectors computed by an INDEPENDENT (python) implementation
      // of both algorithms, itself validated against the published
      // SipHash-paper / XXH64-reference vectors — a true cross-check, not
      // a pin of this repo's own output
      Some("""SELECT doc_id, v.h_sip
             |FROM documents
             |JOIN (VALUES
             |  (0, '14741060929381519384'),
             |  (1, '12549220897431440478'),
             |  (2, '15602685233266833846'),
             |  (3, '11553576122089850033'),
             |  (4, '16247592060488677202'),
             |  (5, '11329477255411314986'),
             |  (6, '9650618976121004163'),
             |  (7, '13685945614426397434')
             |) v(m, h_sip)
             |ON doc_id % 8 = v.m""".stripMargin)),

    // ---- B-FNH1d: the round-10 CH-exact hash kernels under the hard
    // gate. farmFingerprint64 and murmurHash3_64 are cross-validated
    // against Guava's INDEPENDENT implementations in ChDialectSpec, so
    // their goldens below are true cross-checks; cityHash64 (v1.0.2 —
    // no independent implementation exists in this sandbox) and
    // murmurHash2_64 goldens FREEZE today's kernel output so any future
    // drift fails this gate loudly. The h_city48 column exercises the
    // 33..64 branch; the 8 keyed rows the 0..16 branch. ----
    QueryDef(
      "b_fnh4_ch_hash_kernels",
      (s, d) => {
        t(s, d, "documents").createOrReplaceTempView("documents_chh4_v")
        s.sql(
          """SELECT doc_id,
            |  CAST(cityHash64(concat('graft-', CAST(doc_id % 8 AS STRING))) AS STRING) AS h_city,
            |  CAST(farmFingerprint64(concat('graft-', CAST(doc_id % 8 AS STRING))) AS STRING) AS h_farm,
            |  CAST(murmurHash2_64(concat('graft-', CAST(doc_id % 8 AS STRING))) AS STRING) AS h_mm2,
            |  CAST(murmurHash3_64(concat('graft-', CAST(doc_id % 8 AS STRING))) AS STRING) AS h_mm3,
            |  murmurHash3_32(concat('graft-', CAST(doc_id % 8 AS STRING))) AS h_mm332,
            |  CAST(cityHash64(substring(repeat('graft-', 20), 1, 48)) AS STRING) AS h_city48,
            |  CAST(farmFingerprint64(substring(repeat('graft-', 20), 1, 100)) AS STRING) AS h_farm100
            |FROM documents_chh4_v""".stripMargin)
      },
      Some("""SELECT doc_id, v.h_city, v.h_farm, v.h_mm2, v.h_mm3,
             |  CAST(v.h_mm332 AS BIGINT) AS h_mm332,
             |  '13143209125338545875' AS h_city48,
             |  '8350063884095639780' AS h_farm100
             |FROM documents
             |JOIN (VALUES
             |  (0, '4473359914463220727', '15370556460507379858', '7019289059763183720', '16207230472271503085', 471485026),
             |  (1, '6252444007478766661', '14436089875940455547', '12131811513065963324', '9374264692655420198', 2599087965),
             |  (2, '13295349409837935334', '12014930375657851153', '8664671578182088841', '17682232873472795401', 183302821),
             |  (3, '17449523772470675439', '10716845700431820237', '8482483021015396222', '8535841904173093602', 420930066),
             |  (4, '16428975465549811263', '3412085737754246602', '17424539168323206691', '9151333638633219956', 892786454),
             |  (5, '5200343875559146976', '10628921857201259031', '13145155397273927316', '690205436840057786', 1111065604),
             |  (6, '5183137872438093812', '10575817881174816697', '16260145770195834352', '12914502424750042890', 2947168226),
             |  (7, '18425937707050688089', '10443747594406866365', '10584991537798977811', '1993892985989733841', 4094709846)
             |) v(m, h_city, h_farm, h_mm2, h_mm3, h_mm332)
             |ON doc_id % 8 = v.m""".stripMargin)),

    // ---- B-FNC1: type conversions ----
    QueryDef(
      "b_fnc1_cast",
      (s, d) =>
        t(s, d, "lineitem").select(
          col("l_orderkey"),
          col("l_linenumber"),
          col("l_orderkey").cast("string").as("key_str"),
          concat(lit("k"), col("l_orderkey").cast("string")).cast("string").as("tagged"),
          // Spark double→int cast truncates toward zero (oracle: trunc)
          col("l_quantity").cast("long").as("qty_int"),
          lit("3.25").cast("double").as("pi_ish"),
          date_format(to_date(lit("1996-03-05")), "yyyy-MM-dd").as("d1"),
          to_timestamp(lit("1996-03-05 12:30:00")).as("ts1"),
          date_format(col("l_shipdate").cast("date"), "yyyy-MM-dd").as("ship_day"),
          expr("try_cast('not_a_number' AS INT)").cast("long").as("bad")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(l_orderkey AS VARCHAR) AS key_str,
             |  concat('k', CAST(l_orderkey AS VARCHAR)) AS tagged,
             |  CAST(trunc(l_quantity) AS BIGINT) AS qty_int,
             |  CAST('3.25' AS DOUBLE) AS pi_ish,
             |  strftime(DATE '1996-03-05', '%Y-%m-%d') AS d1,
             |  TIMESTAMP '1996-03-05 12:30:00' AS ts1,
             |  strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship_day,
             |  CAST(try_cast('not_a_number' AS INT) AS BIGINT) AS bad
             |FROM lineitem""".stripMargin))
  )
}
