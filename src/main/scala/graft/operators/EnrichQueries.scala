package graft.operators

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Enrichment-function families a reference user reaches through SQL
  * passthrough (`clickhouse-arrow/src/client.rs:643`): external
  * dictionaries (`dictGet`), geo distance (`greatCircleDistance`), URL
  * parsing (`domain`/`path`/`extractURLParameter`), array set operations
  * (`arrayIntersect`/`arrayConcat`+distinct/`arrayFilter`), and exact
  * quantiles (`quantileExact`).
  *
  * 100-TB notes:
  *  - dictGet is the canonical broadcast join: the dictionary side
  *    (nation⋈region here) is tiny and pinned broadcast, so the fact scan
  *    never shuffles — the same plan ClickHouse gets from its in-memory
  *    dictionary, expressed declaratively so AQE can still re-plan.
  *  - geo / URL / set-op queries are pure per-row projections: codegen'd,
  *    no shuffle, scale linearly with input splits.
  *  - quantileExact groups on a bounded key but aggregates with Spark's
  *    exact `percentile`, which collects per-group value multisets — at
  *    100 TB swap in `approx_percentile` (declared as `b_agg4_quantiles`);
  *    both are declared so the user picks the accuracy/cost point.
  */
object EnrichQueries extends QueryRegistry {
  import Enrich._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- dictGet: broadcast dictionary lookup with default fallback ----
    // dictGet('nations', 'n_name', s_nationkey) + dictGetOrDefault via
    // left join + coalesce. Dictionary side composed (nation ⋈ region)
    // BEFORE broadcast — one tiny driver-side build, zero fact shuffles.
    QueryDef(
      "b_dict1_dictget",
      (s, d) => {
        val dict = t(s, d, "nation")
          .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"), col("r_name"))
        t(s, d, "supplier")
          .join(broadcast(dict), col("s_nationkey") === col("n_nationkey"), "left")
          .select(
            col("s_suppkey"),
            col("s_name"),
            coalesce(col("n_name"), lit("UNKNOWN")).as("nation"),
            coalesce(col("r_name"), lit("UNKNOWN")).as("region"))
      },
      Some("""SELECT s_suppkey, s_name,
             |  coalesce(n_name, 'UNKNOWN') AS nation,
             |  coalesce(r_name, 'UNKNOWN') AS region
             |FROM supplier
             |LEFT JOIN (SELECT n_nationkey, n_name, r_name
             |           FROM nation JOIN region ON n_regionkey = r_regionkey) d
             |  ON s_nationkey = d.n_nationkey""".stripMargin)),

    // ---- greatCircleDistance: haversine over derived coordinates ----
    // Coordinates synthesized deterministically from c_custkey (the
    // fixtures carry no geo columns); the formula itself is the operator
    // under test. Pure projection — codegen'd trig, no shuffle.
    QueryDef(
      "b_geo1_distance",
      (s, d) => {
        val lat1 = (col("c_custkey") * 7 % 17000).cast("double") / 100.0 - 85.0
        val lon1 = (col("c_custkey") * 13 % 35000).cast("double") / 100.0 - 175.0
        val lat2 = lit(48.8566); val lon2 = lit(2.3522)
        val dlat = radians(lat1 - lat2); val dlon = radians(lon1 - lon2)
        val a = pow(sin(dlat / 2), 2) +
          cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dlon / 2), 2)
        val km = lit(2 * 6371.0) * asin(sqrt(a))
        t(s, d, "customer").select(
          col("c_custkey"),
          round(lat1, 4).as("lat"),
          round(lon1, 4).as("lon"),
          round(km, 2).as("dist_km"))
      },
      Some("""SELECT c_custkey,
             |  round((c_custkey * 7 % 17000) / 100.0 - 85.0, 4) AS lat,
             |  round((c_custkey * 13 % 35000) / 100.0 - 175.0, 4) AS lon,
             |  round(2 * 6371.0 * asin(sqrt(
             |    pow(sin(radians(((c_custkey * 7 % 17000) / 100.0 - 85.0) - 48.8566) / 2), 2)
             |    + cos(radians((c_custkey * 7 % 17000) / 100.0 - 85.0)) * cos(radians(48.8566))
             |      * pow(sin(radians(((c_custkey * 13 % 35000) / 100.0 - 175.0) - 2.3522) / 2), 2)
             |  )), 2) AS dist_km
             |FROM customer""".stripMargin)),

    // ---- URL family: domain / topLevelDomain / path / param extract ----
    // parse_url is a codegen'd Spark built-in; the oracle re-derives the
    // same pieces with regexes. URLs composed from part attributes.
    QueryDef(
      "b_url1_parse",
      (s, d) => {
        // '#' in Brand#NN would start a URL fragment — sanitize to '-'
        val url = concat(
          lit("https://shop.example.com/"),
          lower(regexp_replace(col("p_type"), " ", "-")),
          lit("/"), col("p_partkey").cast("string"),
          lit("?brand="), regexp_replace(col("p_brand"), "#", "-"),
          lit("&size="), col("p_size").cast("string"))
        t(s, d, "part").select(
          col("p_partkey"),
          url.as("url"),
          parse_url(url, lit("HOST")).as("host"),
          parse_url(url, lit("PATH")).as("path"),
          parse_url(url, lit("QUERY"), lit("brand")).as("brand_param"),
          regexp_extract(parse_url(url, lit("HOST")), "\\.([a-z]+)$", 1).as("tld"))
      },
      Some("""WITH u AS (
             |  SELECT p_partkey,
             |    'https://shop.example.com/' || lower(replace(p_type, ' ', '-'))
             |      || '/' || CAST(p_partkey AS VARCHAR)
             |      || '?brand=' || replace(p_brand, '#', '-') || '&size=' || CAST(p_size AS VARCHAR) AS url
             |  FROM part)
             |SELECT p_partkey, url,
             |  regexp_extract(url, 'https?://([^/]+)', 1) AS host,
             |  regexp_extract(url, 'https?://[^/]+(/[^?]*)', 1) AS path,
             |  regexp_extract(url, '[?&]brand=([^&]*)', 1) AS brand_param,
             |  regexp_extract(regexp_extract(url, 'https?://([^/]+)', 1),
             |                 '\.([a-z]+)$', 1) AS tld
             |FROM u""".stripMargin)),

    // ---- array set ops: intersect / union / except / overlap ----
    // Element order is engine-specific → emit sorted, comma-joined
    // strings on both sides (also keeps the oracle hash comparable).
    QueryDef(
      "b_fna6_array_setops",
      (s, d) => {
        val a = split(col("p_name"), " ")
        val b = array(lit("widget"), lit("bolt"), lit("gear"), lit("cold"))
        t(s, d, "part").select(
          col("p_partkey"),
          array_join(array_sort(array_intersect(a, b)), ",").as("inter"),
          array_join(array_sort(array_union(a, b)), ",").as("uni"),
          array_join(array_sort(array_except(a, b)), ",").as("diff"),
          arrays_overlap(a, b).as("overlaps"))
      },
      Some("""WITH t AS (
             |  SELECT p_partkey, str_split(p_name, ' ') AS a,
             |    ['widget', 'bolt', 'gear', 'cold'] AS b
             |  FROM part)
             |SELECT p_partkey,
             |  coalesce(array_to_string(list_sort(list_distinct(list_filter(a, x -> list_contains(b, x)))), ','), '') AS inter,
             |  coalesce(array_to_string(list_sort(list_distinct(a || b)), ','), '') AS uni,
             |  coalesce(array_to_string(list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS diff,
             |  len(list_filter(a, x -> list_contains(b, x))) > 0 AS overlaps
             |FROM t""".stripMargin)),

    // ---- quantileExact / median: exact percentiles per group ----
    // Quantiles run over integer cents: type-7 interpolation on integer
    // values is exact in binary (quarter fractions), so both engines
    // produce bit-identical doubles — interpolating raw doubles differs
    // in the last ulp and flips round(x, 2) at .005 boundaries.
    QueryDef(
      "b_agg17_exact_quantile",
      (s, d) => {
        val cents = round(col("l_extendedprice") * 100).cast("long")
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            percentile(cents, lit(0.25)).as("p25_cents"),
            percentile(cents, lit(0.5)).as("p50_cents"),
            percentile(cents, lit(0.75)).as("p75_cents"),
            expr("median(CAST(round(l_extendedprice * 100) AS LONG))").as("med_cents"))
      },
      Some("""WITH t AS (
             |  SELECT l_returnflag,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
             |  FROM lineitem)
             |SELECT l_returnflag,
             |  quantile_cont(cents, 0.25) AS p25_cents,
             |  quantile_cont(cents, 0.5) AS p50_cents,
             |  quantile_cont(cents, 0.75) AS p75_cents,
             |  median(cents) AS med_cents
             |FROM t GROUP BY l_returnflag""".stripMargin)),

    // ---- dictGetHierarchy / dictIsIn (CH hierarchical dictionaries):
    // the ancestor chain (nation → region) is materialized DIM-SIDE by
    // pre-joining the two dictionary levels, then broadcast — the fact
    // scan resolves the whole hierarchy in one broadcast hash join, zero
    // fact-side shuffle (exactly how CH walks its in-memory hierarchy,
    // declared so AQE can still re-plan). ----
    QueryDef(
      "b_dict2_hierarchy",
      (s, d) => {
        val dim = t(s, d, "nation")
          .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"), col("r_name"))
        t(s, d, "customer")
          .join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
          .select(
            col("c_custkey"),
            concat_ws(",", col("n_name"), col("r_name")).as("hierarchy"),
            (col("r_name") === "EUROPE").as("in_europe"))
      },
      Some("""SELECT c_custkey,
             |  n_name || ',' || r_name AS hierarchy,
             |  r_name = 'EUROPE' AS in_europe
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // ---- geohashEncode / geohashDecode (CH geo tier 2): base32 geohash
    // per customer row over an 8-coordinate grid (Wikipedia's u4pruyd
    // vector among them), plus the decoded cell center. Encoding is
    // bit-interleaving — not SQL-computable — so the oracle joins the
    // table against golden vectors generated by an INDEPENDENT
    // textbook implementation (bisection alg, checked against the
    // public u4pruyd test vector); EnrichSpec additionally pins the
    // encode∘decode fixpoint. Typed map kernel, pure per-row, zero
    // shuffle. ----
    QueryDef(
      "b_geo2_geohash",
      (s, d) => {
        import s.implicits._
        val grid = Seq(
          (57.64911, 10.40744), (0.0, 0.0), (-33.8688, 151.2093),
          (40.7128, -74.0060), (-89.9, -179.9), (89.9, 179.9),
          (48.8566, 2.3522), (19.4326, -99.1332))
        val latArr = array(grid.map(c => lit(c._1)): _*)
        val lonArr = array(grid.map(c => lit(c._2)): _*)
        val m = (col("c_custkey") % 8 + 1).cast("int")
        t(s, d, "customer")
          .select(col("c_custkey"),
            element_at(latArr, m).as("lat"), element_at(lonArr, m).as("lon"))
          .as[(Long, Double, Double)]
          .map { case (k, la, lo) =>
            val h = GeoKernel.geohashEncode(la, lo, 7)
            val (cla, clo) = GeoKernel.geohashDecodeCenter(h)
            (k, h,
              math.rint(cla * 10000) / 10000,
              math.rint(clo * 10000) / 10000)
          }
          .toDF("c_custkey", "geohash", "cell_lat", "cell_lon")
      },
      // golden vectors from the independent reference implementation
      Some("""SELECT c_custkey, v.geohash, v.cell_lat, v.cell_lon
             |FROM customer
             |JOIN (VALUES
             |  (0, 'u4pruyd', 57.6487, 10.4075),
             |  (1, 's000000', 0.0007, 0.0007),
             |  (2, 'r3gx2f7', -33.8688, 151.2096),
             |  (3, 'dr5regw', 40.7133, -74.006),
             |  (4, '0000d60', -89.9004, -179.9004),
             |  (5, 'zzzzmtz', 89.9004, 179.9004),
             |  (6, 'u09tvw0', 48.8569, 2.3518),
             |  (7, '9g3w81t', 19.4328, -99.1331)
             |) v(m, geohash, cell_lat, cell_lon)
             |ON c_custkey % 8 = v.m""".stripMargin))
  )
}
